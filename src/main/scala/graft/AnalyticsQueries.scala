package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Dedup, Funnel, Graph, Sampling, Similarity, Stats, TextAnalysis, TextOps, TimeSeries}
import Queries._

/** Round-4 analytics + sampling operators: exact triangle counting over
  * a hash-sampled graph, weighted reservoir sampling, and cohort
  * retention — each with a DuckDB oracle that recomputes the result
  * through an independent formulation. */
object AnalyticsQueries {

  def all: Seq[Q] = Seq(

    // -- Exact triangle counting (degree orientation) over the
    //    DOULION-style deterministically hash-sampled supplier
    //    co-purchase graph (same md5-keyed edge sampling discipline as
    //    q122/q155 — the sampled edge set is identical cross-engine).
    //    The oracle counts triangles through a completely different
    //    algorithm: the canonical a<b<c triple self-join.
    dfQ("q184_triangles", s"""
      WITH $DUCK_COPURCHASE,
      t AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      pn AS (
        SELECT v AS node, count(*) AS triangles FROM (
          SELECT x AS v FROM t
          UNION ALL SELECT y AS v FROM t
          UNION ALL SELECT z AS v FROM t)
        GROUP BY 1),
      nodes AS (SELECT a AS node FROM e UNION SELECT b AS node FROM e)
      SELECT node, coalesce(triangles, 0) AS triangles
      FROM nodes LEFT JOIN pn USING (node)""") { (s, d) =>
      val sampled = sampledCoPurchase(s, d)
      // hint only (identical result): sampledCoPurchase emits distinct
      // a < b non-null pairs by construction
      Graph.triangleCount(sampled, "a", "b", assumeNormalized = true)
    },

    // -- Weighted k-sample without replacement (Efraimidis–Spirakis):
    //    documents drawn proportionally to length; the oracle replays
    //    the identical key formula — deterministic hash uniform, one
    //    pow() per row — and the same id tie-break.
    dfQ("q185_weighted_sample", """
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id IS NOT NULL AND n_chars > 0
      ORDER BY pow(
          (('0x' || substr(md5('es1:' || doc_id::VARCHAR), 1, 13))::BIGINT
            + 0.5) / 4503599627370496.0,
          1.0 / n_chars) DESC,
        doc_id::VARCHAR
      LIMIT 100""") { (s, d) =>
      Sampling.weightedSample(
        Tables.load(s, d, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", k = 100, seed = "es1")
    },

    // -- Weekly cohort retention over high-value purchases: cohort =
    //    Monday of first qualifying event; each cell counts users still
    //    active N weeks later. Exact integer date arithmetic end-to-end.
    dfQ("q186_retention", """
      WITH uw AS (
        SELECT DISTINCT user_id AS u, date_trunc('week', ts)::DATE AS wk
        FROM events
        WHERE event_type = 'purchase' AND value > 150
          AND user_id IS NOT NULL AND ts IS NOT NULL),
      c AS (SELECT u, min(wk) AS cohort_week FROM uw GROUP BY 1)
      SELECT cohort_week,
        (datediff('day', cohort_week, wk) // 7)::INT AS week_offset,
        count(DISTINCT u) AS n_users
      FROM uw JOIN c USING (u)
      GROUP BY 1, 2""") { (s, d) =>
      Funnel.cohortRetention(
        Tables.load(s, d, "events")
          .filter(col("event_type") === "purchase" && col("value") > 150),
        "user_id", "ts")
    },

    // -- Asymmetric containment (quote detection): planted 30-token
    //    quotes of every 40th doc must score containment 1.0 against
    //    their source; the oracle replays the whole pipeline — same
    //    tokenizer, same distinct-gram sets, same df cap (on gram
    //    strings; the engine's 64-bit-hash cap agrees absent a
    //    collision), same int/int division.
    dfQ("q187_containment", s"""
      WITH corpus AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS id,
               array_to_string(list_slice($DUCK_TOKENS, 1, 30), ' ') AS text
        FROM documents
        WHERE doc_id % 40 = 0 AND len($DUCK_TOKENS) >= 30),
      toks AS (SELECT id, $DUCK_TOKENS AS t FROM corpus),
      pos AS (
        SELECT id, t, unnest(range(1, len(t) - 6)) AS i
        FROM toks WHERE len(t) >= 8),
      grams AS (
        SELECT DISTINCT id, array_to_string(list_slice(t, i, i + 7), ' ') AS g
        FROM pos),
      ok AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT id) <= 50),
      kept AS (SELECT id, g FROM grams JOIN ok USING (g)),
      sizes AS (SELECT id, count(*) AS n FROM kept GROUP BY 1),
      inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.g = b.g AND a.id <> b.id
        GROUP BY 1, 2)
      SELECT id_a, id_b, n_shared,
             n_shared::DOUBLE / s.n AS containment
      FROM inter JOIN sizes s ON s.id = id_a
      WHERE n_shared::DOUBLE / s.n >= 0.8""") { (s, d) =>
      val docs = Tables.load(s, d, "documents")
      val quotes = docs.filter(pmod(col("doc_id"), lit(40)) === 0)
        .select((col("doc_id") + 100000L).as("id"),
          TextOps.explodeOnceIf(TextOps.tokens(col("text")))(
            t => size(t) >= 30).as("t"))
        .select(col("id"), concat_ws(" ", slice(col("t"), 1, 30)).as("text"))
      val corpus = docs.select(col("doc_id").as("id"), col("text"))
        .unionByName(quotes)
      Dedup.containmentPairs(corpus, "id", "text",
        spanTokens = 8, threshold = 0.8, maxDf = 50)
    },

    // -- Fixed-step resample + forward fill: dense daily grid per user,
    //    exact-decimal bucket sums, watermark-free batch gap-fill. The
    //    oracle rebuilds the same grid with generate_series and replays
    //    the fill with IGNORE NULLS last_value.
    dfQ("q188_gapfill", """
      WITH ev AS (
        SELECT user_id AS k,
               (floor(epoch(ts) / 86400) * 86400)::BIGINT AS b,
               value
        FROM events
        WHERE user_id % 15 = 0 AND user_id IS NOT NULL AND ts IS NOT NULL),
      obs AS (
        SELECT k, b,
               cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS observed
        FROM ev GROUP BY 1, 2),
      bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM ev),
      grid AS (
        SELECT k, unnest(range(lo, hi + 86400, 86400)) AS b
        FROM (SELECT DISTINCT k FROM ev), bounds)
      SELECT g.k AS user_id, g.b AS bucket, o.observed,
             last_value(o.observed IGNORE NULLS)
               OVER (PARTITION BY g.k ORDER BY g.b) AS filled,
             o.observed IS NOT NULL AS was_observed
      FROM grid g LEFT JOIN obs o ON o.k = g.k AND o.b = g.b""") { (s, d) =>
      TimeSeries.gapFill(
        Tables.load(s, d, "events")
          .filter(pmod(col("user_id"), lit(15)) === 0),
        "user_id", "ts", "value", stepSeconds = 86400L)
    },

    // -- OOV rate against the corpus's own top-200 vocabulary:
    //    deterministic (count DESC, word) top-k both sides, then exact
    //    integer token accounting per doc.
    dfQ("q189_oov_rate", s"""
      WITH tok AS (
        SELECT doc_id AS id, unnest($DUCK_TOKENS) AS w FROM documents),
      vocab AS (
        SELECT w FROM tok GROUP BY w
        ORDER BY count(*) DESC, w LIMIT 200)
      SELECT id AS doc_id, count(*) AS n_tokens,
             sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)
               AS oov_rate
      FROM tok LEFT JOIN vocab v ON v.w = tok.w
      GROUP BY 1""") { (s, d) =>
      TextAnalysis.oovRate(Tables.load(s, d, "documents"),
        "doc_id", "text", vocabSize = 200)
    },

    // -- Rank-based winsorization: bounds are actual data values
    //    selected by exact decimal rank arithmetic (never float
    //    interpolation), so the per-row clip replays bit-for-bit.
    dfQ("q190_winsorize", """
      WITH ranked AS (
        SELECT o_orderkey, o_orderpriority AS grp, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders),
      bounds AS (
        SELECT grp,
          max(CASE WHEN rn = greatest(1, ceil(n * 0.05)) THEN o_totalprice
              END) AS lo,
          max(CASE WHEN rn = ceil(n * 0.95) THEN o_totalprice END) AS hi
        FROM ranked GROUP BY 1)
      SELECT r.o_orderkey, r.grp, r.o_totalprice,
        CASE WHEN r.o_totalprice < b.lo THEN b.lo
             WHEN r.o_totalprice > b.hi THEN b.hi
             ELSE r.o_totalprice END AS clipped
      FROM ranked r JOIN bounds b USING (grp)""") { (s, d) =>
      Stats.winsorizeByRank(
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority").as("grp"),
            col("o_totalprice")),
        "grp", "o_totalprice", BigDecimal("0.05"), BigDecimal("0.95"))
        .select("o_orderkey", "grp", "o_totalprice", "clipped")
    },

    // -- Per-group z-score standardization: exact decimal sum/sumsq,
    //    then an identical fixed sequence of IEEE ops in both engines —
    //    raw doubles hash-match without rounding.
    dfQ("q191_zscore", """
      WITH st AS (
        SELECT l_returnflag AS grp, count(*) AS n,
               sum(cast(l_extendedprice AS DECIMAL(18,2))) AS s,
               sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) *
                        cast(l_extendedprice AS DECIMAL(18,2))
                        AS DECIMAL(38,4))) AS sq
        FROM lineitem GROUP BY 1)
      SELECT l.l_orderkey, l.l_linenumber, st.grp, l.l_extendedprice,
        CASE WHEN (sq::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                  / n::DOUBLE <= 0 THEN 0.0
             ELSE round((l.l_extendedprice::DOUBLE - s::DOUBLE / n::DOUBLE)
                  / sqrt((sq::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                         / n::DOUBLE), 6) END AS zscore
      FROM lineitem l JOIN st ON st.grp = l.l_returnflag""") { (s, d) =>
      Stats.zscore(
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag").as("grp"), col("l_extendedprice")),
        "grp", "l_extendedprice")
        .select("l_orderkey", "l_linenumber", "grp", "l_extendedprice",
          "zscore")
    },

    // -- Hard-negative mining: for 5 query vectors, the 10 most
    //    cosine-similar vectors of a DIFFERENT label (the confusable
    //    cross-class examples contrastive training wants). Oracle =
    //    label-filtered windowed top-k over DuckDB's own cosine.
    dfQ("q192_hard_negatives", """
      WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
      scored AS (
        SELECT q.qid, e.vec_id AS id, e.label,
               list_cosine_similarity(e.embedding, q.qvec)::DOUBLE AS c
        FROM embeddings e JOIN q ON e.label <> q.qlabel),
      top AS (
        SELECT qid, id, label, c,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c DESC, id) AS rank
        FROM scored)
      SELECT qid, id, label, round(c, 4) AS cos4, rank
      FROM top WHERE rank <= 10""") { (s, d) =>
      Similarity.hardNegatives(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding", "label",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
        .select(col("qid"), col("id"), col("label"),
          round(col("cosine"), 4).as("cos4"), col("rank"))
    },

    // -- Incremental aggregate maintenance (materialized-view refresh):
    //    snapshot(old) ⊕ snapshot(new batch) must equal the full
    //    recompute the oracle runs directly — counts and exact-decimal
    //    sums combine associatively, so history is never rescanned.
    dfQ("q193_incremental_agg", """
      SELECT o_orderpriority, o_orderstatus, count(*) AS n,
             cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total,
             cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS avg_price
      FROM orders GROUP BY 1, 2""") { (s, d) =>
      val o = Tables.load(s, d, "orders")
      val keys = Seq("o_orderpriority", "o_orderstatus")
      val old = o.filter(pmod(col("o_orderkey"), lit(5)) < 3)
      val batch = o.filter(pmod(col("o_orderkey"), lit(5)) >= 3)
      val merged = Cdc.mergeSnapshots(
        Cdc.aggregateSnapshot(old, keys, Seq("o_totalprice")),
        Cdc.aggregateSnapshot(batch, keys, Seq("o_totalprice")),
        keys, Seq("o_totalprice"))
      merged.select(col("o_orderpriority"), col("o_orderstatus"), col("n"),
        col("o_totalprice_sum").cast("double").as("total"),
        (col("o_totalprice_sum").cast("double") / col("n")).as("avg_price"))
    },

    // -- 2-hop neighbor feature averaging (GraphSAGE-mean prep) on the
    //    sampled co-purchase graph: the oracle unrolls both hops as
    //    chained CTEs with the identical round-6 decimal-sum discipline.
    dfQ("q194_neighbor_agg", s"""
      WITH $DUCK_COPURCHASE,
      sym AS (SELECT a AS src, b AS dst FROM e
              UNION SELECT b AS src, a AS dst FROM e),
      f0 AS (SELECT s_suppkey::VARCHAR AS node, s_acctbal::DOUBLE AS v
             FROM supplier),
      h1 AS (
        SELECT dst AS node, count(*) AS n_nbrs,
               round(sum(cast(round(v, 6) AS DECIMAL(28,6)))::DOUBLE
                     / count(*), 6) AS v
        FROM sym JOIN f0 ON f0.node = sym.src GROUP BY 1),
      h2 AS (
        SELECT dst AS node, count(*) AS n_nbrs,
               round(sum(cast(round(v, 6) AS DECIMAL(28,6)))::DOUBLE
                     / count(*), 6) AS v
        FROM sym JOIN h1 ON h1.node = sym.src GROUP BY 1)
      SELECT node, n_nbrs, v AS nbr_mean FROM h2""") { (s, d) =>
      val e = sampledCoPurchase(s, d)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      Graph.neighborhoodMean(sym, "src", "dst",
        Tables.load(s, d, "supplier"), "s_suppkey", "s_acctbal", hops = 2)
    },

    // -- Robust (median/IQR) scaling: all three order statistics by
    //    exact rank selection, one single-division per row.
    dfQ("q195_robust_scale", """
      WITH ranked AS (
        SELECT l_orderkey, l_linenumber, l_returnflag AS grp, l_quantity,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
      b AS (
        SELECT grp,
          max(CASE WHEN rn = greatest(1, ceil(n * 0.25)) THEN l_quantity
              END) AS q1,
          max(CASE WHEN rn = greatest(1, ceil(n * 0.5)) THEN l_quantity
              END) AS med,
          max(CASE WHEN rn = greatest(1, ceil(n * 0.75)) THEN l_quantity
              END) AS q3
        FROM ranked GROUP BY 1)
      SELECT r.l_orderkey, r.l_linenumber, r.grp, r.l_quantity,
        CASE WHEN b.q3 = b.q1 THEN 0.0
             ELSE (r.l_quantity::DOUBLE - b.med::DOUBLE)
                  / (b.q3::DOUBLE - b.q1::DOUBLE) END AS scaled
      FROM ranked r JOIN b USING (grp)""") { (s, d) =>
      Stats.robustScale(
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag").as("grp"), col("l_quantity")),
        "grp", "l_quantity")
        .select("l_orderkey", "l_linenumber", "grp", "l_quantity", "scaled")
    },

    // -- Pairwise Pearson correlation matrix from ONE pass of exact
    //    decimal sums; both engines then run the identical IEEE formula
    //    so the raw doubles hash-match (no rounding).
    dfQ("q196_corr_matrix", """
      WITH s AS (
        SELECT count(*) AS n,
          sum(cast(l_quantity AS DECIMAL(18,2))) AS s0,
          sum(cast(l_extendedprice AS DECIMAL(18,2))) AS s1,
          sum(cast(l_discount AS DECIMAL(18,2))) AS s2,
          sum(cast(cast(l_quantity AS DECIMAL(18,2)) *
                   cast(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS p00,
          sum(cast(cast(l_quantity AS DECIMAL(18,2)) *
                   cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS p01,
          sum(cast(cast(l_quantity AS DECIMAL(18,2)) *
                   cast(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS p02,
          sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) *
                   cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS p11,
          sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) *
                   cast(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS p12,
          sum(cast(cast(l_discount AS DECIMAL(18,2)) *
                   cast(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS p22
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
          AND l_discount IS NOT NULL)
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        round((n::DOUBLE * p01::DOUBLE - s0::DOUBLE * s1::DOUBLE) /
        (sqrt(n::DOUBLE * p00::DOUBLE - s0::DOUBLE * s0::DOUBLE) *
         sqrt(n::DOUBLE * p11::DOUBLE - s1::DOUBLE * s1::DOUBLE)), 12)
          AS corr
      FROM s
      UNION ALL
      SELECT 'l_quantity', 'l_discount',
        round((n::DOUBLE * p02::DOUBLE - s0::DOUBLE * s2::DOUBLE) /
        (sqrt(n::DOUBLE * p00::DOUBLE - s0::DOUBLE * s0::DOUBLE) *
         sqrt(n::DOUBLE * p22::DOUBLE - s2::DOUBLE * s2::DOUBLE)), 12)
      FROM s
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount',
        round((n::DOUBLE * p12::DOUBLE - s1::DOUBLE * s2::DOUBLE) /
        (sqrt(n::DOUBLE * p11::DOUBLE - s1::DOUBLE * s1::DOUBLE) *
         sqrt(n::DOUBLE * p22::DOUBLE - s2::DOUBLE * s2::DOUBLE)), 12)
      FROM s""") { (s, d) =>
      Stats.corrMatrix(Tables.load(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    },

    // -- Token-distribution entropy (gibberish/repetition signal):
    //    exact integer counts, one ln() fold per doc, round-6 storage
    //    (the q55 cosine discipline for order-sensitive float folds).
    dfQ("q197_token_entropy", s"""
      WITH wc AS (
        SELECT id, w, count(*) AS c FROM (
          SELECT doc_id AS id, unnest($DUCK_TOKENS) AS w FROM documents)
        GROUP BY 1, 2),
      tot AS (
        SELECT id, sum(c)::BIGINT AS n_tokens, count(*) AS n_types
        FROM wc GROUP BY 1)
      SELECT wc.id AS doc_id, t.n_tokens, t.n_types,
        round(-sum((wc.c::DOUBLE / t.n_tokens) *
                   ln(wc.c::DOUBLE / t.n_tokens)), 6) AS entropy
      FROM wc JOIN tot t ON t.id = wc.id
      GROUP BY 1, 2, 3""") { (s, d) =>
      TextAnalysis.tokenEntropy(Tables.load(s, d, "documents"),
        "doc_id", "text")
    },

    // -- Bounded-round k-core peeling (k=3, 3 rounds) on the sampled
    //    co-purchase graph; the oracle unrolls every peel round as
    //    chained CTEs — all-integer work, hash-exact.
    dfQ("q198_kcore", s"""
      WITH $DUCK_COPURCHASE,
      sym AS (SELECT a AS src, b AS dst FROM e
              UNION SELECT b AS src, a AS dst FROM e),
      d1 AS (SELECT src, count(*) AS c FROM sym GROUP BY 1),
      n1 AS (SELECT src AS v FROM d1 WHERE c >= 3),
      e1 AS (SELECT s.src, s.dst FROM sym s
             JOIN n1 x ON s.src = x.v JOIN n1 y ON s.dst = y.v),
      d2 AS (SELECT src, count(*) AS c FROM e1 GROUP BY 1),
      n2 AS (SELECT src AS v FROM d2 WHERE c >= 3),
      e2 AS (SELECT s.src, s.dst FROM e1 s
             JOIN n2 x ON s.src = x.v JOIN n2 y ON s.dst = y.v),
      d3 AS (SELECT src, count(*) AS c FROM e2 GROUP BY 1)
      SELECT src AS node, c AS degree FROM d3 WHERE c >= 3""") { (s, d) =>
      val sampled = sampledCoPurchase(s, d)
      Graph.kCoreMembers(sampled, "a", "b", k = 3, rounds = 3)
    },

    // -- Two-sample A/B z-statistic: one conditional-aggregation pass,
    //    exact decimal sums, identical IEEE sequence both engines.
    dfQ("q199_ab_test", """
      WITH s AS (
        SELECT
          count(CASE WHEN user_id % 2 = 0 THEN value END) AS na,
          count(CASE WHEN user_id % 2 = 1 THEN value END) AS nb,
          sum(cast(CASE WHEN user_id % 2 = 0 THEN value END
              AS DECIMAL(18,2))) AS sa,
          sum(cast(CASE WHEN user_id % 2 = 1 THEN value END
              AS DECIMAL(18,2))) AS sb,
          sum(cast(cast(CASE WHEN user_id % 2 = 0 THEN value END
                AS DECIMAL(18,2)) *
              cast(CASE WHEN user_id % 2 = 0 THEN value END
                AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS qa,
          sum(cast(cast(CASE WHEN user_id % 2 = 1 THEN value END
                AS DECIMAL(18,2)) *
              cast(CASE WHEN user_id % 2 = 1 THEN value END
                AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS qb
        FROM events WHERE event_type = 'purchase')
      SELECT na AS n_a, nb AS n_b,
        sa::DOUBLE / na::DOUBLE AS mean_a,
        sb::DOUBLE / nb::DOUBLE AS mean_b,
        round((sa::DOUBLE / na::DOUBLE - sb::DOUBLE / nb::DOUBLE) /
          sqrt(((qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
                 / na::DOUBLE) / na::DOUBLE +
               ((qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE)
                 / nb::DOUBLE) / nb::DOUBLE), 12) AS z
      FROM s""") { (s, d) =>
      // no otherwise: NULL or negative-odd user_ids get a NULL variant
      // and are excluded — exactly the oracle CASE's semantics (Spark %
      // keeps the dividend's sign like DuckDB %; pmod would not)
      Stats.twoSampleZ(
        Tables.load(s, d, "events")
          .filter(col("event_type") === "purchase")
          .withColumn("variant",
            when(col("user_id") % 2 === 0, "A")
              .when(col("user_id") % 2 === 1, "B")),
        "variant", "value", a = "A", b = "B")
    },

    // -- Per-group heavy hitters: one bounded SpaceSaving sketch per
    //    source (capacity 64 ≥ the 31-word vocabulary ⇒ exact regime,
    //    err = 0, so the full output hash-checks against the exact
    //    group count); rank window input is ≤ capacity rows per group.
    dfQ("q200_group_heavy_hitters", s"""
      WITH tok AS (
        SELECT source, unnest($DUCK_TOKENS) AS item FROM documents),
      cnt AS (
        SELECT source, item, count(*) AS count_est, 0::BIGINT AS err
        FROM tok GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY count_est DESC, item) AS rank
        FROM cnt)
      SELECT source, item, count_est, err, rank
      FROM ranked WHERE rank <= 5""") { (s, d) =>
      import graft.operators.HeavyHitters
      val toks = Tables.load(s, d, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      HeavyHitters.topKPerGroup(toks, "source", col("w"),
        k = 5, capacity = 64)
    },

    // -- Funnel with a conversion window: click counts only within 6h
    //    of the first view, purchase within 6h of that click. The
    //    oracle replays each stage's min-ts chain with the same
    //    strictly-after + within-gap bounds.
    dfQ("q201_funnel_window", """
      WITH s1 AS (
        SELECT user_id AS u, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      s2 AS (
        SELECT e.user_id AS u, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.u = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL 21600 SECONDS
        GROUP BY 1),
      s3 AS (
        SELECT e.user_id AS u, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.u = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL 21600 SECONDS
        GROUP BY 1)
      SELECT u.user_id,
        CASE WHEN s3.t3 IS NOT NULL THEN 3
             WHEN s2.t2 IS NOT NULL THEN 2
             WHEN s1.t1 IS NOT NULL THEN 1
             ELSE 0 END AS stage
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN s1 ON s1.u = u.user_id
      LEFT JOIN s2 ON s2.u = u.user_id
      LEFT JOIN s3 ON s3.u = u.user_id""") { (s, d) =>
      Funnel.stageReachedWithin(Tables.load(s, d, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapSeconds = 21600L)
    },

    // -- First-order event-transition matrix: per-user lag in
    //    (ts, event_id) order — deterministic under timestamp ties —
    //    then exact pair counts.
    dfQ("q202_transitions", """
      WITH seq AS (
        SELECT user_id, event_type AS to_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type
        FROM events)
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE from_type IS NOT NULL
      GROUP BY 1, 2""") { (s, d) =>
      Funnel.transitionCounts(Tables.load(s, d, "events"),
        "user_id", "ts", "event_id", "event_type")
    },

    // -- Pareto frontier (skyline): most-expensive-and-most-recent
    //    orders; the oracle is the quadratic NOT EXISTS dominance query
    //    over the same subset — an independent algorithm.
    dfQ("q203_pareto", """
      WITH s AS (
        SELECT o_orderkey, o_totalprice::DOUBLE AS price,
               epoch(o_orderdate)::DOUBLE AS ots
        FROM orders WHERE o_orderkey % 19 = 0)
      SELECT o_orderkey, price, ots FROM s a
      WHERE NOT EXISTS (
        SELECT 1 FROM s b
        WHERE b.price >= a.price AND b.ots >= a.ots
          AND (b.price > a.price OR b.ots > a.ots))""") { (s, d) =>
      Stats.paretoFrontier(
        Tables.load(s, d, "orders")
          .filter(pmod(col("o_orderkey"), lit(19)) === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
            unix_timestamp(col("o_orderdate")).cast("double").as("ots")),
        Seq("price", "ots"))
    },

    // -- Mergeable KLL quantile-sketch rollup (the quantile sibling of
    //    q172's HLL rollup): per-nation Datasketches KLL sketches of
    //    customer balances union to region medians WITHOUT rescanning
    //    rows. The oracle checks the exact rank-selected median; the
    //    engine additionally asserts the sketch estimate's exact rank
    //    lands within ±0.1 of 0.5 (KLL k=200 ⇒ ~1.3% rank error).
    dfQ("q204_kll_rollup", """
      WITH cr AS (
        SELECT n_regionkey AS region, c_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      ranked AS (
        SELECT region, c_acctbal,
               row_number() OVER (PARTITION BY region
                                  ORDER BY c_acctbal) AS rn,
               count(*) OVER (PARTITION BY region) AS n
        FROM cr)
      SELECT region,
        max(CASE WHEN rn = greatest(1, ceil(n * 0.5)) THEN c_acctbal
            END) AS median_exact,
        TRUE AS within_tol
      FROM ranked GROUP BY 1""") { (s, d) =>
      // checkpointed once: cr feeds the sketch path, the exact-median
      // rank selection, AND the tolerance count — three consumers, one
      // customer scan
      val cr = WorkingSet.pin(Tables.load(s, d, "customer")
        .join(broadcast(Tables.load(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").as("region"), col("c_nationkey"),
          col("c_acctbal")))
      val est = cr.groupBy("region", "c_nationkey")
        .agg(expr("kll_sketch_agg_double(c_acctbal, 200)").as("sk"))
        .groupBy("region")
        .agg(expr(
          "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)")
          .as("est"))
      // the NULL-disciplined rank-quantile machinery, not an inline
      // window (Spark's NULLS FIRST would shift ranks vs the oracle)
      val exact = Stats.rankQuantiles(cr, "region", "c_acctbal",
        Seq("median_exact" -> BigDecimal("0.5")))
      val tol = cr.join(broadcast(est), "region")
        .groupBy("region")
        .agg((sum(when(col("c_acctbal") <= col("est"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("frac"))
        .select(col("region"), col("frac").between(0.4, 0.6).as("within_tol"))
      exact.join(tol, "region")
        .select("region", "median_exact", "within_tol")
    },

    // -- Mergeable top-k rollup: per-source approx_top_k_accumulate
    //    states combine corpus-wide WITHOUT rescanning tokens (the
    //    top-k sibling of q172/q204). maxItemsTracked (100) ≥ the
    //    31-word vocabulary ⇒ counts are exact and hash-check against
    //    the plain group-count oracle; ties re-ranked deterministically.
    dfQ("q205_topk_rollup", s"""
      WITH tok AS (
        SELECT source, unnest($DUCK_TOKENS) AS item FROM documents),
      cnt AS (SELECT item, count(*) AS est FROM tok GROUP BY 1)
      SELECT item, est,
             row_number() OVER (ORDER BY est DESC, item) AS rank
      FROM cnt ORDER BY est DESC, item LIMIT 10""") { (s, d) =>
      val perSource = Tables.load(s, d, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("source")
        .agg(expr("approx_top_k_accumulate(w, 100)").as("st"))
      perSource
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(st, 100), 100)")
          .as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("est"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("est").desc, col("item"))))
        .filter(col("rank") <= 10)
        .orderBy(col("est").desc, col("item"))
    }
  )

  /** The shared graph fixture for q184/q194/q198: the supplier
    * co-purchase projection (suppliers appearing in the same order),
    * thinned by DOULION-style deterministic md5 edge sampling (mod 17 —
    * the q122/q155 hash-sampling discipline) so the graph is sparse at
    * every SF. `DUCK_COPURCHASE` is the identical construction in
    * DuckDB SQL; edit BOTH or oracle parity silently breaks. */
  private def sampledCoPurchase(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    // r15 reshape (same result set, cheaper plan): the former
    // ps-distinct + o-keyed SELF-JOIN is one aggregation — per order,
    // collect the DISTINCT supplier set (map-side combinable, dedup
    // included) and expand its a<b pairs with codegen'd array HOFs.
    // One scan and one shuffle replace two scans, two distinct
    // exchanges and a join; per-row pair fan-out is bounded by order
    // size exactly as the join's per-key fan-out was. String sort
    // order (array_sort) matches the former sv < sw VARCHAR compare,
    // so the emitted pair set is identical (DUCK_COPURCHASE unchanged).
    val ss = array_sort(collect_set(col("sv")))
    val pairs = Tables.load(s, d, "lineitem")
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey").as("o"),
        col("l_suppkey").cast("string").as("sv"))
      .groupBy("o").agg(ss.as("ss"))
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    pairs.filter(
      pmod(conv(substring(
          md5(concat(col("a"), lit(":"), col("b"))), 1, 15),
        16, 10).cast("long"), lit(17)) === 0)
  }

  private val DUCK_COPURCHASE = """ps AS (
        SELECT DISTINCT l_orderkey AS o, l_suppkey::VARCHAR AS s
        FROM lineitem),
      e0 AS (
        SELECT DISTINCT a.s AS a, b.s AS b
        FROM ps a JOIN ps b ON a.o = b.o AND a.s < b.s),
      e AS (
        SELECT a, b FROM e0
        WHERE ('0x' || substr(md5(a || ':' || b), 1, 15))::BIGINT % 17 = 0)"""

  // DuckDB tokenizer identical to TextOps.tokens (the q62/q89 parity
  // rule; same constant as ScaleQueries.DUCK_TOKENS, kept local to the
  // file for self-containment)
  private val DUCK_TOKENS =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       x -> len(x) > 0)"""
}
