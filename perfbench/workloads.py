"""The workloads: seeded op plans and, for DML, the DuckDB replay.

A plan is a list of Op. Pass -1 holds set-up statements, pass 0 the
warm-up pass, and passes 1.. the measured stream, which the JVM runs in
whole passes until its time is up. The seed fixes the stream order
(llm_ops_sf01) or the statement order, keys and literals (hiveql_dml);
the program only ever sees the generated statements.
"""
import datetime
from dataclasses import dataclass, field

import numpy as np

# LLM-pipeline and iterative operators on a small corpus: the cost is
# driver-blocking actions, many small stages and persist/checkpoint churn.
# One headline query per operator family that reads documents alone:
# explode UDTF, MinHash dedup, chunking, greedy packing, keyed shuffle.
# q165_mix_budget is left out: its per-source budgets exceed what a source
# holds below about 1700 documents, so at 500 its cutoff never applies.
LLM_QUERIES = ["q36_explode_words", "q51_dedup_minhash", "q145_chunk_overlap",
               "q147_pack_greedy", "q153_shuffle"]

SCALE = {"llm_ops_sf01": 0.01, "hiveql_dml": 0.01}
PASSES = 200
# Seconds one measured pass takes on a 4-core box, and the fewest passes
# a run measures: the whole passes that fit in --seconds, at least
# MIN_PASSES. DML takes two, so every statement kind has two samples in
# a run.
PASS_S = {"llm_ops_sf01": 4.0, "hiveql_dml": 10.0}
MIN_PASSES = {"llm_ops_sf01": 1, "hiveql_dml": 2}
COMPACT_EVERY = 4        # writes between Initiator/Cleaner runs


@dataclass
class Op:
    pass_: int
    kind: str            # query | sql | acid
    name: str
    text: str = ""       # HiveQL; statements separated by " ;; "
    duck: list = field(default_factory=list)   # DuckDB replay statements
    read: bool = False

    def tsv(self):
        return f"{self.pass_}\t{self.kind}\t{self.name}\t{self.text}"


def plan(workload, seed, counts):
    rng = np.random.default_rng([seed, 1000])
    if workload == "llm_ops_sf01":
        return _query_stream(rng)
    if workload == "hiveql_dml":
        return _dml_session(rng, counts)
    raise SystemExit(f"unknown workload {workload!r}")


# ---- llm_ops_sf01 ----------------------------------------------------------

def _extract(p, rng):
    """A data-maintenance write: INSERT OVERWRITE of an extract table."""
    sel = ("SELECT doc_id, source, lower(text) AS text FROM documents "
           f"WHERE doc_id % 2 = {int(rng.integers(0, 2))}")
    return Op(p, "sql", "overwrite_doc_extract",
              f"INSERT OVERWRITE TABLE doc_extract {sel}",
              duck=[f"CREATE OR REPLACE TABLE doc_extract AS {sel}"])


def _query_stream(rng):
    ops = [Op(-1, "sql", "create_doc_extract",
              "CREATE TABLE doc_extract USING parquet AS SELECT doc_id, source, "
              "lower(text) AS text FROM documents WHERE false")]
    # Each pass: the five queries and two extract writes, in seeded order.
    # Odd counts of reads (5) and of all ops (7) keep both medians inside
    # one query's latencies instead of in the gap between two. The JIT
    # keeps speeding these operators up for a few passes, so the warm-up
    # (pass 0) runs twice.
    for p in [0] + list(range(PASSES + 1)):
        pass_ops = [Op(p, "query", q, read=True) for q in LLM_QUERIES]
        pass_ops += [_extract(p, rng), _extract(p, rng)]
        ops += [pass_ops[i] for i in rng.permutation(len(pass_ops))]
    return ops


# ---- hiveql_dml -----------------------------------------------------------

LI_COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
           "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
           "l_shipdate")
ORDERS_P = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderpriority, year(o_orderdate) AS o_year FROM orders")


def _dml_session(rng, counts):
    n = counts["orders"]
    ops = [Op(-1, "acid", "li", "lineitem",
              duck=[f"CREATE OR REPLACE TABLE li AS SELECT {LI_COLS} FROM lineitem"]),
           Op(-1, "sql", "create_orders_p",
              f"CREATE TABLE orders_p USING parquet PARTITIONED BY (o_year) AS {ORDERS_P}",
              duck=[f"CREATE OR REPLACE TABLE orders_p AS "
                    f"{ORDERS_P.replace('year(o_orderdate)', 'CAST(year(o_orderdate) AS INTEGER)')}"])]
    # every pass runs each write once, each followed by a read of the
    # table it wrote, the pairs in seeded order with seeded keys and
    # literals: runs of any length and seed see the same mix
    for p in range(PASSES + 1):
        for i in rng.permutation(len(PAIRS)):
            ops += [_statement(k, p, rng, n) for k in PAIRS[i]]
    return ops


def _statement(kind, p, rng, n):
    d0 = datetime.date(1995, 1, 2) + datetime.timedelta(int(rng.integers(0, 2400)))
    hq = STATEMENTS[kind](a=int(rng.integers(0, n - 60)),
                          y=int(rng.integers(1995, 2002)), n=n, d0=d0,
                          d1=d0 + datetime.timedelta(60),
                          x=int(rng.integers(0, 11)) / 100)
    duck = _duck_merge(hq) if kind == "merge_li" else [hq]
    return Op(p, "sql", kind, hq, duck=duck, read=kind.startswith("sel_"))


# statement kind -> HiveQL template
STATEMENTS = {
    "sel_point_li": lambda **k: (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        f"l_discount, l_tax, l_returnflag FROM li WHERE l_orderkey = {k['a']}"),
    "sel_range_li": lambda **k: (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
        "min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM li "
        f"WHERE l_shipdate >= '{k['d0']}' AND l_shipdate < '{k['d1']}' "
        "GROUP BY l_returnflag, l_linestatus"),
    "sel_part_orders": lambda **k: (
        "SELECT o_orderstatus, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        f"FROM orders_p WHERE o_year = {k['y']} GROUP BY o_orderstatus"),
    "ins_li": lambda **k: (
        f"INSERT INTO li SELECT l_orderkey + {k['n']}, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        "l_returnflag, l_linestatus, l_shipdate FROM lineitem "
        f"WHERE l_orderkey BETWEEN {k['a']} AND {k['a'] + 3}"),
    "upd_li": lambda **k: (
        f"UPDATE li SET l_discount = {k['x']:.2f}, l_tax = l_tax + 0.01 "
        f"WHERE l_orderkey BETWEEN {k['a']} AND {k['a'] + 3}"),
    "del_li": lambda **k: (
        f"DELETE FROM li WHERE l_orderkey BETWEEN {k['a']} AND {k['a'] + 2}"),
    "merge_li": lambda **k: (
        "CREATE OR REPLACE TEMPORARY VIEW li_src AS SELECT l_orderkey AS k, "
        "l_linenumber AS ln, max(l_quantity) + 1 AS q FROM lineitem "
        f"WHERE l_orderkey BETWEEN {k['a']} AND {k['a'] + 3} "
        "GROUP BY l_orderkey, l_linenumber ;; "
        "MERGE INTO li t USING li_src s "
        "ON t.l_orderkey = s.k AND t.l_linenumber = s.ln "
        "WHEN MATCHED AND s.q > 45 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET l_quantity = s.q "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 0, 0, s.ln, s.q, 1000.0, "
        "0.0, 0.0, 'N', 'O', '1998-01-01 00:00:00')"),
    "upd_orders": lambda **k: (
        "UPDATE orders_p SET o_orderstatus = 'F', o_totalprice = o_totalprice + 1.5 "
        f"WHERE o_year = {k['y']} AND o_orderkey BETWEEN {k['a']} AND {k['a'] + 50}"),
}


# Three point reads, one range and one partition read: the read median
# falls in the middle of the point reads, not between two kinds.
PAIRS = [("ins_li", "sel_point_li"), ("upd_li", "sel_point_li"),
         ("del_li", "sel_point_li"), ("merge_li", "sel_range_li"),
         ("upd_orders", "sel_part_orders")]


def _duck_merge(hq):
    """DuckDB 1.0 has no MERGE: the same semantics as delete, update and
    insert, with the NOT MATCHED rows taken before the target changes."""
    view, _ = hq.split(" ;; ")
    on = "t.l_orderkey = s.k AND t.l_linenumber = s.ln"
    return [view.replace("TEMPORARY VIEW", "TEMP VIEW"),
            "CREATE OR REPLACE TEMP TABLE m_ins AS SELECT s.k, 0::BIGINT, 0::BIGINT, "
            "s.ln, s.q, 1000.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 'N', 'O', "
            "TIMESTAMP '1998-01-01 00:00:00' FROM li_src s "
            f"WHERE NOT EXISTS (SELECT 1 FROM li t WHERE {on})",
            "DELETE FROM li t USING li_src s "
            f"WHERE {on} AND s.q > 45",
            "UPDATE li t SET l_quantity = s.q FROM li_src s WHERE " + on,
            "INSERT INTO li SELECT * FROM m_ins"]

