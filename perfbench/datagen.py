"""Seeded generator for the ten tables graft.Tables registers.

The shapes follow the repository's synthetic testdata (a TPC-H-like star
schema plus events, documents and embeddings): the same columns, types,
value ranges and cardinalities per unit of scale, so the registry
queries and their DuckDB oracles run unchanged. Scale sf = 1 means 6 M
lineitem rows; the other tables keep their testdata ratios. The same
(seed, sf) always yields the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def row_counts(sf):
    return {"region": 5, "nation": 25,
            "customer": int(150000 * sf), "supplier": int(10000 * sf),
            "part": int(200000 * sf), "orders": int(1500000 * sf),
            "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
            "documents": int(50000 * sf), "embeddings": int(20000 * sf)}


def _days(rng, start, n_days, n):
    d = np.datetime64(start, "D") + rng.integers(0, n_days, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return rng.integers(lo, hi + 1, n) / 100.0


def _choice(rng, xs, n):
    return pa.array(np.array(xs, dtype=object)[rng.integers(0, len(xs), n)],
                    pa.string())


def _table(name, n, counts, rng):
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return {"r_regionkey": pa.array(ids.astype(np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                    "MIDDLE EAST"])}
    if name == "nation":
        return {"n_nationkey": pa.array(ids.astype(np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in ids]),
                "n_regionkey": pa.array((ids % 5).astype(np.int32))}
    if name == "customer":
        return {"c_custkey": ids,
                "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": _cents(rng, -99999, 999980, n),
                "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING",
                                              "FURNITURE", "HOUSEHOLD",
                                              "MACHINERY"], n)}
    if name == "supplier":
        return {"s_suppkey": ids,
                "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": _cents(rng, -99999, 999980, n)}
    if name == "part":
        adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red",
                        "small"], dtype=object)
        noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                         "rod", "widget"], dtype=object)
        names = adj[rng.integers(0, 8, n)] + " " + noun[rng.integers(0, 8, n)]
        return {"p_partkey": ids,
                "p_name": pa.array(names, pa.string()),
                "p_brand": pa.array([f"Brand#{b}" for b in
                                     rng.integers(1, 26, n)]),
                "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM",
                                        "PROMO", "SMALL", "STANDARD"], n),
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": (9000 + ids % 1000) / 10.0}
    if name == "orders":
        return {"o_orderkey": ids,
                "o_custkey": rng.integers(0, counts["customer"], n),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
                "o_totalprice": _cents(rng, 100000, 49999999, n),
                "o_orderdate": _days(rng, "1995-01-01", 2404, n),
                "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH",
                                                 "3-MEDIUM", "4-NOT SPECIFIED",
                                                 "5-LOW"], n)}
    if name == "lineitem":
        return {"l_orderkey": rng.integers(0, counts["orders"], n),
                "l_partkey": rng.integers(0, counts["part"], n),
                "l_suppkey": rng.integers(0, counts["supplier"], n),
                "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _cents(rng, 90068, 10499991, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], n),
                "l_linestatus": _choice(rng, ["F", "O"], n),
                "l_shipdate": _days(rng, "1995-01-02", 2499, n)}
    if name == "events":
        ts = (np.datetime64("2024-01-01T00:00:00", "us")
              + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
        return {"event_id": ids,
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, max(1, n * 15 // 1000), n),
                "event_type": _choice(rng, ["click", "error", "purchase",
                                            "signup", "view"], n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in
                                   rng.integers(0, 100, n)])}
    if name == "documents":
        # 5% of documents repeat an earlier document's text plus a marker
        # word: the near-duplicate structure the dedup operators look for
        vocab = np.array(VOCAB, dtype=object)
        texts = []
        for i in range(n):
            if i > 0 and rng.random() < 0.05:
                texts.append(texts[rng.integers(0, i)] + " dup")
            else:
                texts.append(" ".join(vocab[rng.integers(0, len(VOCAB),
                                                         rng.integers(10, 101))]))
        return {"doc_id": ids,
                "text": pa.array(texts, pa.string()),
                "lang": _choice(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
                "source": pa.array([f"src{i % 20}" for i in ids]),
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    if name == "embeddings":
        v = rng.standard_normal((n, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return {"vec_id": ids,
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(v.reshape(-1)), 64).cast(pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n).astype(np.int32)}
    raise ValueError(name)


def write(out_dir, seed, sf):
    """Write every table as <out_dir>/<name>.parquet; return {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    counts = row_counts(sf)
    for salt, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, salt])
        cols = _table(name, counts[name], counts, rng)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return counts
