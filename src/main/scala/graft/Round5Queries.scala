package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Quality, Stats, TimeSeries}
import Queries._

/** Round-5 queries: real image-pixel decode evidence.
  *
  * q206 plants solid-red/gradient-green/gradient-blue PNGs (real zlib
  * IDAT + CRCs via the JDK encoder) whose every pixel statistic has a
  * closed form, then requires the engine to reproduce those statistics
  * from an actual `javax.imageio` decode of the bytes — the DuckDB
  * oracle recomputes them arithmetically from the planting parameters.
  */
object Round5Queries {

  def all: Seq[Q] = Seq(

    // -- Real pixel decode: R = solid (doc_id*11 % 256), G = horizontal
    //    0..w-1 gradient, B = vertical 0..h-1 gradient. Channel sums are
    //    exact Int64 (engine: decoded pixels; oracle: closed forms), the
    //    means are single exact divisions of those sums, and the luma
    //    column stays in integer space (299/587/114 millis) so the
    //    comparison is float-free end to end.
    dfQ("q206_pixel_stats", """
      WITH p AS (
        SELECT doc_id,
          (doc_id % 57 + 8)::BIGINT AS w, (doc_id % 41 + 8)::BIGINT AS h,
          (doc_id * 11 % 256)::BIGINT AS r
        FROM documents WHERE doc_id < 60)
      SELECT doc_id AS id,
        w::INT AS width, h::INT AS height, (w * h)::BIGINT AS n_pixels,
        (r * w * h)::BIGINT AS sum_r,
        (h * w * (w - 1) // 2)::BIGINT AS sum_g,
        (w * h * (h - 1) // 2)::BIGINT AS sum_b,
        (299 * (r * w * h) + 587 * (h * w * (w - 1) // 2)
           + 114 * (w * h * (h - 1) // 2))::BIGINT AS luma_millis,
        CAST(r AS DOUBLE) AS mean_r,
        (w - 1) / 2.0 AS mean_g,
        (h - 1) / 2.0 AS mean_b
      FROM p ORDER BY id""") { (s, d) =>
      import s.implicits._
      val planted = Tables.load(s, d, "documents")
        .filter(col("doc_id") < 60)
        .select(col("doc_id").cast("long")).as[Long]
        .map { k =>
          (k, Multimodal.syntheticPng(
            (k % 57 + 8).toInt, (k % 41 + 8).toInt, (k * 11 % 256).toInt))
        }
        .toDF("doc_id", "payload")
      Multimodal.decodePixelStats(planted, "doc_id", "payload")
        .toDF()
        .select(col("id"), col("width"), col("height"), col("n_pixels"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          (lit(299L) * col("sum_r") + lit(587L) * col("sum_g") +
            lit(114L) * col("sum_b")).as("luma_millis"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("id")
    },

    // -- ACID delta-file lifecycle (Acid.scala): two insert txns, an
    //    update txn, a MAJOR compaction + clean, then a delete txn that
    //    must resolve against the compacted base. The oracle recomputes
    //    the final committed state relationally; o_totalprice * 2 is a
    //    power-of-two scale, bit-exact in both engines.
    dfQ("q207_acid_snapshot", """
      WITH cur AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 < 5
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 7),
      upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
               ELSE o_totalprice END AS o_totalprice
        FROM cur)
      SELECT * FROM upd WHERE o_orderkey % 5 <> 0
      ORDER BY o_orderkey""") { (s, d) =>
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val t = java.nio.file.Files
        .createTempDirectory("graft-acid-q207").toString
      try {
        Acid.create(t)
        Acid.insertTxn(s, t, orders.filter(col("o_orderkey") % 10 < 5))
        Acid.insertTxn(s, t, orders.filter(col("o_orderkey") % 10 === 7))
        Acid.updateTxn(s, t, Map("o_totalprice" -> "o_totalprice * 2"),
          "o_orderkey % 3 = 0")
        Acid.compactMajor(s, t)
        Acid.clean(t)
        Acid.deleteTxn(s, t, "o_orderkey % 5 = 0")
        // pinned: the frame must outlive the table directory
        WorkingSet.pin(Acid.snapshot(s, t).orderBy("o_orderkey"))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(t)).deleteRecursively()
      }
    },

    // -- Partitioned ACID (per-partition base/delta trees, table-global
    //    write ids): dynamic-partition insert, a partition-local update,
    //    per-partition MAJOR compaction + clean, a cross-partition
    //    delete, then a second insert resolving against the bases. The
    //    partition column round-trips through the directory encoding.
    dfQ("q208_acid_partitioned", """
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 < 3),
      upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderstatus = 'F' AND o_orderkey % 3 = 0
               THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        FROM base),
      del AS (SELECT * FROM upd WHERE o_orderkey % 7 <> 0),
      ins AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 = 3)
      SELECT * FROM del UNION ALL SELECT * FROM ins
      ORDER BY o_orderkey""") { (s, d) =>
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val t = java.nio.file.Files
        .createTempDirectory("graft-acid-q208").toString
      try {
        Acid.create(t)
        Acid.insertTxn(s, t, orders.filter(col("o_orderkey") % 4 < 3),
          partitionBy = Seq("o_orderstatus"))
        Acid.updateTxn(s, t, Map("o_totalprice" -> "o_totalprice * 2"),
          "o_orderstatus = 'F' AND o_orderkey % 3 = 0")
        Acid.compactMajor(s, t)
        Acid.clean(t)
        Acid.deleteTxn(s, t, "o_orderkey % 7 = 0")
        Acid.insertTxn(s, t, orders.filter(col("o_orderkey") % 4 === 3))
        WorkingSet.pin(Acid.snapshot(s, t)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey"))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(t)).deleteRecursively()
      }
    },

    // -- MERGE INTO over the ACID layout: one snapshot-source join emits
    //    delete + update + insert events into a single delta (first
    //    matching WHEN clause wins). The oracle replays the same clause
    //    logic with a LEFT JOIN + ANTI JOIN.
    dfQ("q209_acid_merge", """
      WITH t AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0),
      s AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0),
      m AS (
        SELECT t.o_orderkey, t.o_custkey,
          CASE WHEN s.o_orderkey IS NOT NULL
                AND NOT (s.o_totalprice < 50000)
               THEN 'M' ELSE t.o_orderstatus END AS o_orderstatus,
          CASE WHEN s.o_orderkey IS NOT NULL
                AND NOT (s.o_totalprice < 50000)
               THEN s.o_totalprice * 2 ELSE t.o_totalprice
               END AS o_totalprice,
          CASE WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice < 50000
               THEN 1 ELSE 0 END AS del
        FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey),
      kept AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM m WHERE del = 0),
      ins AS (
        SELECT s.o_orderkey, s.o_custkey, 'N' AS o_orderstatus,
               s.o_totalprice
        FROM s ANTI JOIN t USING (o_orderkey))
      SELECT * FROM kept UNION ALL SELECT * FROM ins
      ORDER BY o_orderkey""") { (s, d) =>
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val t = java.nio.file.Files
        .createTempDirectory("graft-acid-q209").toString
      try {
        Acid.create(t)
        Acid.insertTxn(s, t, orders.filter(col("o_orderkey") % 2 === 0))
        Acid.mergeTxn(s, t,
          orders.filter(col("o_orderkey") % 3 === 0), "s", "t",
          "t.o_orderkey = s.o_orderkey",
          matched = Seq(
            Warehouse.MatchedDelete(Some("s.o_totalprice < 50000")),
            Warehouse.MatchedUpdate(None, Map(
              "o_orderstatus" -> "'M'",
              "o_totalprice" -> "s.o_totalprice * 2"))),
          notMatched = Some(Warehouse.NotMatchedInsert(None, Seq(
            "s.o_orderkey", "s.o_custkey", "'N'", "s.o_totalprice"))))
        WorkingSet.pin(Acid.snapshot(s, t)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey"))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(t)).deleteRecursively()
      }
    },

    // -- Declarative data-quality gate (Quality.check): six constraints
    //    compiled to ONE aggregation pass; every metric is a single
    //    division of two exact longs, so the report is bit-identical to
    //    the oracle's relational replay.
    dfQ("q210_quality_checks", """
      WITH a AS (
        SELECT count(*) AS n,
          count(text) AS h_text,
          count(lang) AS h_lang,
          count(DISTINCT doc_id) AS h_id, count(doc_id) AS b_id,
          count(*) FILTER (n_chars IS NOT NULL
            AND CAST(n_chars AS DOUBLE) BETWEEN 1.0 AND 500.0) AS h_nc,
          count(n_chars) AS b_nc,
          count(*) FILTER (lang IS NOT NULL
            AND regexp_matches(lang, '^[a-z]{2}$')) AS h_re,
          count(*) FILTER (source IN ('src0','src1','src2','src3','src4',
            'src5','src6','src7','src8','src9')) AS h_src,
          count(source) AS b_src
        FROM documents),
      r AS (
        SELECT 'complete' AS check_name, 'text' AS col_name,
          h_text::DOUBLE / n::DOUBLE AS metric, 1.0::DOUBLE AS threshold
          FROM a
        UNION ALL SELECT 'complete', 'lang',
          h_lang::DOUBLE / n::DOUBLE, 1.0::DOUBLE FROM a
        UNION ALL SELECT 'unique', 'doc_id',
          h_id::DOUBLE / b_id::DOUBLE, 1.0::DOUBLE FROM a
        UNION ALL SELECT 'in_range[1.0,500.0]', 'n_chars',
          h_nc::DOUBLE / b_nc::DOUBLE, 0.9::DOUBLE FROM a
        UNION ALL SELECT 'matches[^[a-z]{2}$]', 'lang',
          h_re::DOUBLE / h_lang::DOUBLE, 1.0::DOUBLE FROM a
        UNION ALL SELECT 'in_set', 'source',
          h_src::DOUBLE / b_src::DOUBLE, 0.4::DOUBLE FROM a)
      SELECT check_name, col_name, metric, threshold,
        metric IS NULL OR metric >= threshold AS passed
      FROM r ORDER BY check_name, col_name""") { (s, d) =>
      Quality.check(Tables.load(s, d, "documents"), Seq(
          Quality.Complete("text"),
          Quality.Complete("lang"),
          Quality.Unique("doc_id"),
          Quality.InRange("n_chars", 1.0, 500.0, minFraction = 0.9),
          Quality.Matches("lang", "^[a-z]{2}$"),
          Quality.InSet("source", (0 to 9).map(i => s"src$i"),
            minFraction = 0.4)))
        .select(col("constraint").as("check_name"),
          col("column").as("col_name"),
          col("metric"), col("threshold"), col("passed"))
        .orderBy("check_name", "col_name")
    },

    // -- EWMA level per user (TimeSeries.ewma): the engine folds the
    //    recurrence sequentially inside a codegen'd higher-order
    //    aggregate; the oracle expands the same fold into its closed
    //    form (sum of alpha*(1-alpha)^(n-i) weights). The two
    //    summation orders agree to ~1e-12 relative, so both sides round
    //    to 6 decimals.
    dfQ("q211_ewma", """
      WITH r AS (
        SELECT user_id, value,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS i,
          count(*) OVER (PARTITION BY user_id) AS n,
          max(event_id) OVER (PARTITION BY user_id) AS last_ord
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL)
      SELECT user_id, count(*) AS n_obs, max(last_ord) AS last_ord,
        ROUND(SUM(CASE WHEN i = 1 THEN value * POWER(0.75, n - 1)
                       ELSE 0.25 * value * POWER(0.75, n - i) END),
              6) AS ewma
      FROM r GROUP BY user_id ORDER BY user_id""") { (s, d) =>
      TimeSeries.ewma(Tables.load(s, d, "events"),
          "user_id", "event_id", "value", alpha = 0.25)
        .select(col("user_id"), col("n_obs"), col("last_ord"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("user_id")
    },

    // -- Per-group OLS fit (Stats.linearFit): slope/intercept/r² from
    //    exact-decimal sufficient statistics in one combinable
    //    aggregate; divisions happen once in double, then rounded with
    //    a magnitude-aware budget (slope/intercept 6, bounded r² 12 —
    //    see the operator scaladoc).
    dfQ("q212_linear_fit", """
      WITH a AS (
        SELECT l_returnflag AS grp, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sy,
          CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS sxy,
          CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS sxx,
          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS syy,
          min(CAST(l_quantity AS DECIMAL(18,2)))
            = max(CAST(l_quantity AS DECIMAL(18,2))) AS constx
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY 1)
      SELECT grp, n,
        ROUND(CASE WHEN constx THEN NULL
          ELSE (n*sxy - sx*sy) / (n*sxx - sx*sx) END, 6) AS slope,
        ROUND(CASE WHEN constx THEN NULL
          ELSE (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n
          END, 6) AS intercept,
        ROUND(CASE WHEN constx OR NOT (n*syy - sy*sy > 0) THEN NULL
          ELSE (n*sxy - sx*sy) * (n*sxy - sx*sy)
            / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 12) AS r2
      FROM a ORDER BY grp""") { (s, d) =>
      Stats.linearFit(Tables.load(s, d, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .select(col("group").as("grp"), col("n"), col("slope"),
          col("intercept"), col("r2"))
        .orderBy("grp")
    },

    // -- Bloom-prefiltered decontamination: the q117 workload through
    //    Decontaminate.overlapBloom — eval grams aggregated into a
    //    mergeable Bloom filter (bloom_build TypedImperativeAggregate),
    //    corpus shingles probed scan-locally inside codegen, exact
    //    verify join only on survivors. No false negatives + FP removal
    //    ⇒ output bit-identical to the exact join, so the SAME oracle
    //    SQL hash-checks the sketch path end-to-end.
    dfQ("q213_bloom_decontaminate", """
      WITH tok AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> len(x) > 0) AS t
        FROM documents
      ), grams AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 6),
          i -> array_to_string(t[i:i+7], ' '))) AS g
        FROM tok
      ), ev AS (
        SELECT t[1:40] AS t40 FROM tok WHERE doc_id % 10 = 7
      ), eval_grams AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(t40) - 6),
          i -> array_to_string(t40[i:i+7], ' '))) AS ngram
        FROM ev
      )
      SELECT doc_id, count(*) AS n_hits
      FROM (SELECT doc_id, unnest(g) AS ngram FROM grams) c
      JOIN eval_grams USING (ngram)
      GROUP BY doc_id
      ORDER BY doc_id""") { (s, d) =>
      import graft.operators.{Decontaminate, TextOps}
      val docs = Tables.load(s, d, "documents")
      val evalSet = docs.filter(col("doc_id") % 10 === 7)
        .select(concat_ws(" ",
          slice(TextOps.tokens(col("text")), 1, 40)).as("text"))
      Decontaminate.overlapBloom(docs, evalSet, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },

    // -- Johnson–Lindenstrauss random projection 64→16 dims: the ±1
    //    sign matrix derives from md5("seed:j:i") nibble parity, a
    //    contract BOTH engines compute independently — the oracle
    //    rebuilds the matrix with its own md5() and replays the whole
    //    projection relationally. Sums round to 6 (the q55 float-fold
    //    discipline: engine folds in array order, SQL sums in scan
    //    order; round-6 bridges the low-bit difference).
    dfQ("q214_random_projection", """
      WITH m AS (
        SELECT j.range AS j, i.range AS i,
          CASE WHEN substr(md5(42 || ':' || j.range || ':' || i.range),
                      1, 1) IN ('0','2','4','6','8','a','c','e')
               THEN 1.0 ELSE -1.0 END AS s
        FROM range(16) j, range(64) i
      ), e AS (
        SELECT vec_id, i.range AS i,
          embedding[i.range + 1]::DOUBLE AS v
        FROM embeddings, range(64) i
      )
      SELECT e.vec_id, m.j, ROUND(SUM(e.v * m.s) / sqrt(16.0), 6) AS p
      FROM e JOIN m USING (i)
      GROUP BY e.vec_id, m.j
      ORDER BY vec_id, j""") { (s, d) =>
      import graft.operators.Vectors
      Tables.load(s, d, "embeddings")
        .select(col("vec_id"), posexplode(
          Vectors.randomProject(col("embedding"), 64, 16, seed = 42L)))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("p"))
        .orderBy("vec_id", "j")
    },

    // -- MAD outlier flags per user (Stats.madOutliers): two exact
    //    rank-median passes; the deviation is one IEEE subtraction and
    //    the flag a comparison, so engine and oracle agree with NO
    //    rounding bridge anywhere — raw doubles hash-match.
    dfQ("q215_mad_outliers", """
      WITH nn AS (
        SELECT event_id, user_id, value::DOUBLE AS v FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
      ), r AS (
        SELECT event_id, user_id, v,
          row_number() OVER (PARTITION BY user_id ORDER BY v) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n
        FROM nn
      ), med AS (
        SELECT user_id,
          max(CASE WHEN rn = greatest(1, ceil(n * 0.5)) THEN v END) AS med
        FROM r GROUP BY user_id
      ), d AS (
        SELECT nn.event_id, nn.user_id, nn.v, med.med,
          abs(nn.v - med.med) AS dev
        FROM nn JOIN med USING (user_id)
      ), r2 AS (
        SELECT *,
          row_number() OVER (PARTITION BY user_id ORDER BY dev) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n
        FROM d
      ), mad AS (
        SELECT user_id,
          max(CASE WHEN rn = greatest(1, ceil(n * 0.5)) THEN dev END)
            AS mad
        FROM r2 GROUP BY user_id
      )
      SELECT d.event_id, d.user_id, d.v AS value, d.med AS median,
        mad.mad, d.dev > 3.0 * mad.mad AS is_outlier
      FROM d JOIN mad USING (user_id)
      ORDER BY event_id""") { (s, d) =>
      Stats.madOutliers(
          Tables.load(s, d, "events")
            .filter(col("value").isNotNull && col("user_id").isNotNull)
            .select(col("event_id"), col("user_id"),
              col("value").cast("double").as("value")),
          "user_id", "value", k = 3.0)
        .select(col("event_id"), col("user_id"), col("value"),
          col("median"), col("mad"), col("is_outlier"))
        .orderBy("event_id")
    },

    // -- count-min point queries vs exact GROUP BY: 10 known keys
    //    through a w=2719 sketch — deterministic hashing (fixed seeds)
    //    means the collision-free estimates are stable across runs, so
    //    the sketch path is hash-checked against the exact counts the
    //    oracle computes relationally (the q126 planted-determinism
    //    pattern, applied to a frequency sketch).
    dfQ("q216_cm_source_counts", """
      SELECT source, count(*) AS est
      FROM documents GROUP BY source ORDER BY source""") { (s, d) =>
      import graft.functions.{CountMinAgg, CountMinEstimate}
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
      val docs = Tables.load(s, d, "documents")
      val sketch = docs
        .agg(toCol(CountMinAgg(toExpr(col("source")), 2719, 5)
          .toAggregateExpression()).as("f"))
        .head().getAs[Array[Byte]](0)
      docs.select(col("source")).distinct()
        .select(col("source"),
          toCol(CountMinEstimate(toExpr(lit(sketch)),
            toExpr(col("source")))).as("est"))
        .orderBy("source")
    },

    // -- count-min one-sided error law on the full token stream (~1250
    //    vocab keys, heavy collisions at w=544): est >= true for EVERY
    //    key, and est <= true + eps*N — the boolean-invariant oracle
    //    pattern (q125), asserted in-engine over the whole vocabulary.
    dfQ("q217_cm_token_bounds", """
      SELECT true AS no_underestimate, true AS within_eps_budget""") {
      (s, d) =>
      import graft.functions.{CountMinAgg, CountMinEstimate, CountMinFunctions}
      import graft.operators.TextOps
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
      val sq = s; import sq.implicits._
      val eps = 0.005
      val (w, dep) = CountMinFunctions.optimalParams(eps, 0.01)
      val toks = Tables.load(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      val sketch = toks
        .agg(toCol(CountMinAgg(toExpr(col("tok")), w, dep)
          .toAggregateExpression()).as("f"))
        .head().getAs[Array[Byte]](0)
      val n = toks.count()
      val checked = toks.groupBy("tok").agg(count(lit(1)).as("truth"))
        .select(col("truth"),
          toCol(CountMinEstimate(toExpr(lit(sketch)),
            toExpr(col("tok")))).as("est"))
        .agg(min(col("est") - col("truth")).as("min_err"),
          max(col("est") - col("truth")).as("max_err"))
        .head()
      Seq((checked.getLong(0) >= 0L,
        checked.getLong(1) <= (eps * n).toLong))
        .toDF("no_underestimate", "within_eps_budget")
    },

    // -- ACID time travel: insert → update → delete, then read the
    //    table at EVERY historical write-id horizon via snapshotAsOf
    //    (the reference's ValidWriteIdList high-water mark semantics,
    //    directory-level selection). The oracle replays each state
    //    relationally and unions them tagged by horizon.
    dfQ("q218_acid_time_travel", """
      WITH w1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 10 < 4),
      w2 AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_custkey % 2 = 0 THEN o_totalprice * 3
               ELSE o_totalprice END AS o_totalprice
        FROM w1),
      w3 AS (SELECT * FROM w2 WHERE o_orderkey % 7 <> 1)
      SELECT 1 AS as_of, * FROM w1
      UNION ALL SELECT 2, * FROM w2
      UNION ALL SELECT 3, * FROM w3
      ORDER BY as_of, o_orderkey""") { (s, d) =>
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val t = java.nio.file.Files
        .createTempDirectory("graft-acid-q218").toString
      try {
        Acid.create(t)
        Acid.insertTxn(s, t, orders.filter(col("o_orderkey") % 10 < 4))
        Acid.updateTxn(s, t,
          Map("o_totalprice" -> "o_totalprice * 3"), "o_custkey % 2 = 0")
        Acid.deleteTxn(s, t, "o_orderkey % 7 = 1")
        // pinned: the frame must outlive the table directory
        WorkingSet.pin((1 to 3).map(w =>
            Acid.snapshotAsOf(s, t, w).withColumn("as_of", lit(w)))
          .reduce(_ unionByName _)
          .select(col("as_of"), col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"))
          .orderBy("as_of", "o_orderkey"))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(t)).deleteRecursively()
      }
    },

    // -- REAL video-container decode: planted ISO-BMFF files (ftyp +
    //    free + mdat + moov{mvhd, trak×n}, every box size real) whose
    //    movie parameters derive from the key; the engine must recover
    //    brand/timescale/duration/track-count by walking the actual box
    //    chain — free and mdat boxes before moov force honest skipping —
    //    while the oracle recomputes them from the generating formulas.
    dfQ("q219_mp4_meta", """
      WITH p AS (
        SELECT o_orderkey AS id,
          (o_orderkey % 7) * 100 + 600 AS ts,
          (o_orderkey * 977) % 90000 + 1000 AS dur,
          (o_orderkey % 3 + 1)::INT AS ntrk
        FROM orders WHERE o_orderkey < 80)
      SELECT id, 'isom' AS major_brand, ts::BIGINT AS timescale,
        dur::BIGINT AS duration, ntrk AS n_tracks,
        (dur * 1000 // ts)::BIGINT AS duration_ms
      FROM p ORDER BY id""") { (s, d) =>
      def be32hex(c: org.apache.spark.sql.Column) =
        lpad(hex(c.cast("long")), 8, "0")
      val k = col("o_orderkey")
      val ts = (k % 7) * 100 + 600
      val dur = (k * 977) % 90000 + 1000
      val ntrk = k % 3 + 1
      // unity transform matrix (36 bytes), shared by mvhd and tkhd
      val mx = "000100000000000000000000000000000001000000000000" +
        "000000000000000040000000"
      // mvhd v0: creation/modification 0, rate 1.0, volume 1.0,
      // next_track_id 4 — 108 (0x6C) bytes incl. header
      val mvhd = concat(
        lit("0000006C6D7668640000000000000000" + "00000000"),
        be32hex(ts), be32hex(dur),
        lit("00010000" + "01000000" + "0000000000000000" + mx +
          "0" * 48 + "00000004"))
      // trak = header + tkhd v0 (track enabled, planted track_id) —
      // 100 (0x64) bytes incl. header
      def trak(t: Int) = concat(
        lit("000000647472616B0000005C746B68640000000700000000" +
          "00000000" + f"$t%08X" + "00000000"),
        be32hex(dur),
        lit("0000000000000000" + "00000000" + "00000000" + mx +
          "00000000" + "00000000"))
      val traks = when(ntrk === 1, trak(1))
        .when(ntrk === 2, concat(trak(1), trak(2)))
        .otherwise(concat(trak(1), trak(2), trak(3)))
      val moovSize = when(ntrk === 1, lit("000000D8"))
        .when(ntrk === 2, lit("0000013C")).otherwise(lit("000001A0"))
      val hexStr = concat(
        lit("00000010" + "66747970" + "69736F6D" + "00000200" + // ftyp isom
          "0000000C" + "66726565" + "DEADBEEF" + // free box (skipped)
          "00000010" + "6D646174" + "0011223344556677"), // mdat before moov
        moovSize, lit("6D6F6F76"), mvhd, traks)
      val planted = Tables.load(s, d, "orders")
        .filter(k < 80)
        .select(k.as("id"), unhex(hexStr).as("payload"))
      planted
        .select(col("id"),
          graft.operators.Multimodal.mp4Meta(col("payload")).as("m"))
        .select(col("id"),
          col("m.major_brand").as("major_brand"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          col("m.n_tracks").as("n_tracks"),
          (col("m.duration") * 1000 / col("m.timescale")).cast("long")
            .as("duration_ms"))
        .orderBy("id")
    },

    // -- frame-level audio features: planted PCM16 WAVs with signed
    //    samples from the key formula; the engine folds per-frame
    //    energy and zero-crossings from the actual bytes, the oracle
    //    replays the same frames arithmetically (integer math only on
    //    both sides — bit-exact at any partitioning)
    dfQ("q220_audio_frames", """
      WITH s AS (
        SELECT o_orderkey AS id, unnest(range(0, 16)) AS i
        FROM orders WHERE o_orderkey < 100),
      v AS (SELECT id, i, (id * 31 + i * 13) % 4096 - 2048 AS val,
              (i // 4)::INT AS frame FROM s),
      p AS (SELECT id, frame, i, val,
              lag(val) OVER (PARTITION BY id, frame ORDER BY i) AS prev
            FROM v)
      SELECT id, frame, count(*)::INT AS n,
        sum(val * val)::BIGINT AS sum_sq,
        sum(CASE WHEN prev IS NOT NULL AND prev * val < 0
                 THEN 1 ELSE 0 END)::INT AS zc,
        round(sqrt(sum(val * val)::DOUBLE / count(*)), 6) AS rms
      FROM p GROUP BY id, frame ORDER BY id, frame""") { (s, d) =>
      def le16hex(c: org.apache.spark.sql.Column) = {
        // two's-complement LE16: pmod folds negative samples to 0..65535
        val h = lpad(hex(pmod(c.cast("long"), lit(65536L))), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
      val header = "52494646" + "44000000" + "57415645" + "666D7420" +
        "10000000" + "0100" + "0100" + "401F0000" + "803E0000" + "0200" +
        "1000" + "64617461" + "20000000"
      val samples = (0 until 16).map(i =>
        le16hex((col("o_orderkey") * 31 + i * 13) % 4096 - 2048))
      val wav = unhex(concat((lit(header) +: samples): _*))
      val planted = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 100)
        .select(col("o_orderkey").as("id"), wav.as("payload"))
      planted
        .select(col("id"), posexplode(
          graft.operators.Multimodal.wavFrameEnergy(col("payload"), 4)))
        .select(col("id"), col("col.frame").as("frame"),
          col("col.n").as("n"), col("col.sum_sq").as("sum_sq"),
          col("col.zc").as("zc"),
          round(sqrt(col("col.sum_sq").cast("double") / col("col.n")), 6)
            .as("rms"))
        .orderBy("id", "frame")
    },

    // -- distributed k-means, oracle-unrolled: every Lloyd round's
    //    assignment (round-6 cosine argmax, ties → lowest cid) and
    //    centroid update (round-6 decimal-exact means, empty clusters
    //    keep their centroid) is replayed as chained CTEs — the
    //    pagerank/bpe unrolling discipline applied to clustering.
    dfQ("q221_kmeans", duckKmeansOracle(4, 2)) { (s, d) =>
      val model = graft.operators.Clustering.kmeans(
        Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2, seeding = graft.operators.Clustering.seedFirstK)
      WorkingSet.release(model.centroids) // the query keeps assignments only
      model.assigned.select(col("id"), col("cid")).orderBy("id")
    },

    // -- product-quantization ANN invariant (the q125 pattern): the
    //    two-stage PQ pipeline (ADC shortlist of 4×k, exact-L2 rerank)
    //    must recover at least 8 of the exact L2 top-10, the raw ADC
    //    top-10 at least 3 (codebooks are lossy by design — 8 B of the
    //    original 256 B — so the shortlist+rerank shape IS the
    //    production contract), and every code must be a valid codebook
    //    index — hash-checked evidence on top of the PqSpec specs.
    dfQ("q222_pq_recall", """
      SELECT true AS rerank_recall_ok, true AS adc_recall_ok,
             true AS codes_bounded, 8 AS m""") { (s, d) =>
      import graft.operators.{Pq, Vectors}
      val sq = s; import sq.implicits._
      val emb = Tables.load(s, d, "embeddings")
      val model = Pq.buildPq(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, iters = 3)
      // Mean recall@10 over 5 probe queries, so the invariant reflects
      // pipeline quality rather than one query's luck on this sample.
      val recalls = (0L until 5L).map { qid =>
        val qv = emb.filter(col("vec_id") === qid)
          .select(col("embedding")).collect().head.getSeq[Float](0)
        val exact = emb
          .select(col("vec_id"),
            Vectors.l2Distance(col("embedding"), lit(qv.toArray)).as("dist"))
          .orderBy(col("dist").asc, col("vec_id")).limit(10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val adc = Pq.searchPq(model, qv, 10)
          .select("id").collect().map(_.getLong(0)).toSet
        val reranked = Pq.searchPqExactRerank(model, emb, "vec_id",
            "embedding", qv, k = 10, refine = 16, metric = "l2")
          .select("id").collect().map(_.getLong(0)).toSet
        (exact.intersect(adc).size, exact.intersect(reranked).size)
      }
      val codesOk = model.codes
        .filter(size(col("codes")) =!= 8 ||
          exists(col("codes"), c => c < 0 || c >= 16))
        .count() == 0L
      Seq(model.codes, model.codebooks).foreach(WorkingSet.release)
      Seq((recalls.map(_._2).sum >= 40, // mean rerank recall ≥ 0.8
        recalls.map(_._1).sum >= 10,    // mean raw-ADC recall ≥ 0.2
        codesOk, 8))
        .toDF("rerank_recall_ok", "adc_recall_ok", "codes_bounded", "m")
    },

    // -- label propagation communities, oracle-unrolled: synchronous
    //    rounds over the q173 customer–supplier bipartite graph; each
    //    round every vertex adopts its in-neighbors' most frequent label
    //    (ties → smallest), replayed round-by-round as chained CTEs.
    dfQ("q223_label_prop", duckLpaOracle(2)) { (s, d) =>
      val half = Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = half.union(
        half.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 2)
        .orderBy("node")
    })

  /** DuckDB replay of `Clustering.kmeans` (firstK seeds, cosine):
    * identical arithmetic to the engine — round-6 cosine argmax with
    * lowest-cid ties, round-6 decimal-exact centroid means, empty
    * clusters keeping their previous centroid, and a final assignment
    * against the last round's centroids. */
  private def duckKmeansOracle(k: Int, iters: Int): String = {
    def assign(cTab: String) =
      s"""SELECT v.id, c.cid, v.vec,
            row_number() OVER (PARTITION BY v.id
              ORDER BY round(list_cosine_similarity(v.vec, c.cvec), 6) DESC,
                       c.cid) AS rn
          FROM v CROSS JOIN $cTab c"""
    val rounds = (0 until iters).map { i =>
      s"""a$i AS (SELECT id, cid, vec FROM (${assign(s"c$i")}) t WHERE rn = 1),
      m$i AS (
        SELECT cid, pos,
          round(sum(val::DECIMAL(27,12))::DOUBLE / count(*), 6) AS mval
        FROM (SELECT cid, unnest(vec) AS val,
                generate_subscripts(vec, 1) AS pos FROM a$i) u
        GROUP BY cid, pos),
      c${i + 1} AS (
        SELECT c.cid, coalesce(mm.mvec, c.cvec) AS cvec
        FROM c$i c LEFT JOIN (
          SELECT cid, list(mval ORDER BY pos) AS mvec
          FROM m$i GROUP BY cid) mm
        ON c.cid = mm.cid)"""
    }.mkString(",\n")
    s"""
      WITH v AS (
        SELECT vec_id AS id,
          list_transform(embedding, x -> x::DOUBLE) AS vec
        FROM embeddings),
      c0 AS (
        SELECT (row_number() OVER (ORDER BY id) - 1)::INT AS cid,
          vec AS cvec
        FROM v ORDER BY id LIMIT $k),
      $rounds
      SELECT id, cid FROM (${assign(s"c$iters")}) t WHERE rn = 1
      ORDER BY id"""
  }

  /** DuckDB replay of `Graph.labelPropagation` on the q173 bipartite
    * graph: synchronous rounds, most-frequent in-neighbor label, ties
    * to the smallest label, no-inbound vertices keep theirs. */
  private def duckLpaOracle(iters: Int): String = {
    val rounds = (0 until iters).map { i =>
      s"""f$i AS (
        SELECT e.dst AS node, l.label, count(*) AS c
        FROM e JOIN l$i l ON e.src = l.node GROUP BY 1, 2),
      w$i AS (
        SELECT node, label FROM (
          SELECT node, label,
            row_number() OVER (PARTITION BY node
              ORDER BY c DESC, label) AS rn
          FROM f$i) t WHERE rn = 1),
      l${i + 1} AS (
        SELECT l.node, coalesce(w.label, l.label) AS label
        FROM l$i l LEFT JOIN w$i w ON l.node = w.node)"""
    }.mkString(",\n")
    s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      l0 AS (SELECT node, node AS label FROM n),
      $rounds
      SELECT node, label FROM l$iters ORDER BY node"""
  }
}
