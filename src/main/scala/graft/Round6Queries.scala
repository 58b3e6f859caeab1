package graft

import org.apache.spark.sql.functions._

import Queries._

/** Round-6 queries: warehouse history (SCD Type 2), a trained-and-scored
  * quality classifier with the fit itself oracle-unrolled, and the EXACT
  * set-similarity join completing the dedup family (LSH ≈ fast/approx,
  * prefix-filter = exact, same tokenizer).
  */
object Round6Queries {

  def all: Seq[Q] = Seq(

    // -- SCD Type 2 over the events changelog: per user, each run of
    //    consecutive equal event_types becomes one version row carrying
    //    its validity interval. The oracle replays the same two windows
    //    (lag change-detect, lead valid_to) verbatim.
    dfQ("q224_scd_type2", """
      WITH v AS (
        SELECT user_id, event_type, ts,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
      ver AS (
        SELECT user_id, event_type, ts AS valid_from
        FROM v WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) AS valid_to,
        (lead(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) IS NULL) AS is_current
      FROM ver
      ORDER BY user_id, valid_from""") { (s, d) =>
      graft.operators.Cdc.scdType2(
        Tables.load(s, d, "events"),
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        attrCols = Seq("event_type"), validCol = "ts")
        .orderBy("user_id", "valid_from")
    },

    // -- Quality-classifier training, oracle-unrolled: 2 rounds of
    //    full-batch GD logistic regression on three engineered document
    //    features, then the fitted model scores every document. The
    //    oracle replays both gradient rounds as chained CTEs with the
    //    identical arithmetic (round-6 probabilities, decimal-exact
    //    gradient sums, round-6 weight updates) — the kmeans/pagerank/
    //    bpe unrolling discipline applied to a learner.
    dfQ("q225_logreg_quality", duckLogregOracle(iters = 2, lr = 0.5)) {
      (s, d) =>
      val feat = logregFeatures(Tables.load(s, d, "documents"))
      val model = graft.operators.Classifier.logisticFit(
        feat, "y", Seq("f1", "f2", "f3"), iters = 2, lr = 0.5)
      graft.operators.Classifier.logisticScore(feat, model)
        .select(col("doc_id"), col("prob"), col("label_pred"))
        .orderBy("doc_id")
    },

    // -- EXACT Jaccard self-join (prefix filter + size filter + verify):
    //    every document pair with token-set Jaccard >= 0.5. The oracle
    //    is the brute-force inverted-index pair count — feasible at
    //    oracle scale, the thing the prefix filter makes unnecessary at
    //    engine scale.
    dfQ("q226_setsim_exact", """
      WITH tok AS (
        SELECT doc_id,
          list_distinct(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> len(x) > 0)) AS toks
        FROM documents),
      t2 AS (SELECT doc_id, unnest(toks) AS token FROM tok
             WHERE len(toks) > 0),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM t2 a JOIN t2 b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(toks) AS n FROM tok)
      SELECT id_a, id_b,
        round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter::DOUBLE >= 0.5 * (sa.n + sb.n - inter)::DOUBLE
      ORDER BY id_a, id_b""") { (s, d) =>
      graft.operators.SetSim.jaccardSelfJoin(
        Tables.load(s, d, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // -- the SCALE.md playbook end-to-end: exact set-sim pairs (t=0.8)
    //    feed connected components, each cluster keeps its best-scored
    //    doc (longest text, ties to smallest id) — pairs are consumed
    //    by a dedup DECISION, never materialized as the product. The
    //    oracle replays brute-force pairs + a recursive-CTE closure +
    //    the same keep rule.
    dfQ("q227_setsim_dedup", """
      WITH RECURSIVE tok AS (
        SELECT doc_id,
          list_distinct(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> len(x) > 0)) AS toks
        FROM documents),
      t2 AS (SELECT doc_id, unnest(toks) AS token FROM tok
             WHERE len(toks) > 0),
      pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM t2 a JOIN t2 b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, len(toks) AS n FROM tok),
      pairs AS (
        SELECT id_a, id_b FROM pr
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE inter::DOUBLE >= 0.8 * (sa.n + sb.n - inter)::DOUBLE),
      e AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      comp AS (
        SELECT d.doc_id,
          least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id),
      best AS (
        SELECT c.component, max(len(d.text)) AS bs
        FROM comp c JOIN documents d USING (doc_id) GROUP BY 1),
      keep AS (
        SELECT c.component, min(c.doc_id) AS doc_id
        FROM comp c
        JOIN documents d USING (doc_id)
        JOIN best b ON b.component = c.component AND len(d.text) = b.bs
        GROUP BY c.component)
      SELECT doc_id FROM keep ORDER BY doc_id""") { (s, d) =>
      import graft.operators.{Dedup, SetSim}
      val docs = Tables.load(s, d, "documents")
      val pairs = SetSim.jaccardSelfJoin(
        docs, "doc_id", "text", threshold = 0.8)
      val kept = Dedup.dedupByClusterKeepBest(
          docs.withColumn("__score", length(col("text"))),
          "doc_id", pairs, "id_a", "id_b", "__score")
        .select("doc_id").orderBy("doc_id")
      WorkingSet.release(pairs) // the clusters are pinned; pairs are done
      kept
    },

    // -- incremental SCD2 maintenance: history built from the first half
    //    of the month, the second half folded in with scdType2Apply
    //    (cost ∝ touched keys + batch, stored history never rescanned).
    //    The oracle is the FULL-LOG rebuild — hash equality IS the
    //    incremental-equals-recompute theorem on real data.
    dfQ("q228_scd2_incremental", """
      WITH v AS (
        SELECT user_id, event_type, ts,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
      ver AS (
        SELECT user_id, event_type, ts AS valid_from
        FROM v WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) AS valid_to,
        (lead(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) IS NULL) AS is_current
      FROM ver
      ORDER BY user_id, valid_from""") { (s, d) =>
      import graft.operators.Cdc
      val events = Tables.load(s, d, "events")
      val cutoff = lit("2024-01-16").cast("timestamp")
      // r16: an eager checkpoint pin of the built history (so
      // scdType2Apply's three references — untouched anti-join, touched
      // replay, late-data guard — read a pinned copy instead of
      // re-planning the window pipeline) was built and MEASURED NEUTRAL:
      // alternating sf1 legs NEW {2.10,2.62,2.90} vs OLD
      // {2.29,2.42,2.58,3.74}s, sf0.1 equally overlapping — runtime
      // exchange reuse already dedupes the heavy shuffles, so the pin
      // only adds a driver-blocking job + checkpoint blocks. Rejected.
      val history = Cdc.scdType2(
        events.filter(col("ts") < cutoff),
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        attrCols = Seq("event_type"), validCol = "ts")
      Cdc.scdType2Apply(history,
          events.filter(col("ts") >= cutoff), Seq("user_id"),
          Seq("ts", "event_id"), Seq("event_type"))
        .orderBy("user_id", "valid_from")
    },

    // -- point-in-time enrichment (the SCD2 consume side): each event
    //    looks up the user's state one hour BEFORE it fired — a real
    //    interval lookup (events in the first hour of a user's life get
    //    NULL state through the left join). Keyed join + containment
    //    residual; at most one version matches (intervals are disjoint).
    dfQ("q229_point_in_time", """
      WITH v AS (
        SELECT user_id, event_type, ts,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
      ver AS (
        SELECT user_id, event_type, ts AS valid_from
        FROM v WHERE prev IS NULL OR prev <> event_type),
      hist AS (
        SELECT user_id, event_type AS state, valid_from,
          lead(valid_from) OVER (PARTITION BY user_id
            ORDER BY valid_from) AS valid_to
        FROM ver)
      SELECT e.event_id, e.user_id, s.state
      FROM events e
      LEFT JOIN hist s
        ON s.user_id = e.user_id
        AND e.ts - INTERVAL 1 HOUR >= s.valid_from
        AND (s.valid_to IS NULL OR e.ts - INTERVAL 1 HOUR < s.valid_to)
      ORDER BY e.event_id""") { (s, d) =>
      import graft.operators.Cdc
      val events = Tables.load(s, d, "events")
      val hist = Cdc.scdType2(events,
          keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
          attrCols = Seq("event_type"), validCol = "ts")
        .withColumnRenamed("event_type", "state")
        .drop("is_current")
      Cdc.pointInTimeJoin(
          events.select(col("event_id"), col("user_id"),
            (col("ts") - expr("INTERVAL 1 HOUR")).as("probe_ts")),
          hist, Seq("user_id"), "probe_ts")
        .select("event_id", "user_id", "state")
        .orderBy("event_id")
    },

    // -- temperature-scaled source mixing (alpha=0.5 flattens toward
    //    uniform, boosting small sources): per-source quota =
    //    target · n^α / Σ n^α, realized as deterministic fractional
    //    copies (q124's modulo buckets). The oracle replays the whole
    //    chain — round-6 pow terms, decimal-exact normalizer, the same
    //    floor/round cutoff arithmetic — and counts rows per source.
    dfQ("q230_temperature_mix", """
      WITH c AS (
        SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
      p AS (SELECT source, n, round(pow(n, 0.5), 6) AS p6 FROM c),
      ps AS (SELECT sum(p6::DECIMAL(27,12)) AS s FROM p),
      w AS (
        SELECT source, n,
          ((300 * p6) / (SELECT s::DOUBLE FROM ps)) / n AS wt
        FROM p),
      r AS (
        SELECT d.doc_id, d.source,
          floor(w.wt)::BIGINT +
            CASE WHEN (d.doc_id % 10) <
              round((w.wt - floor(w.wt)) * 10) THEN 1 ELSE 0 END AS copies
        FROM documents d JOIN w USING (source))
      SELECT source, sum(copies)::BIGINT AS n_rows
      FROM r GROUP BY source
      HAVING sum(copies) > 0
      ORDER BY source""") { (s, d) =>
      graft.operators.Mix.temperatureMix(
          Tables.load(s, d, "documents"), "source", "doc_id",
          alpha = 0.5, targetRows = 300, buckets = 10,
          bucketExpr = Some(pmod(col("doc_id"), lit(10))))
        .groupBy("source").agg(count(lit(1)).as("n_rows"))
        .orderBy("source")
    },

    // -- token-budgeted temperature mixing (how production mixes are
    //    specified): 20k chars split across sources ∝ T^0.5, budgets
    //    floored from the round-6/decimal chain, fill replayed with the
    //    q165 hash-ordered prefix-sum window.
    dfQ("q231_temperature_tokens", """
      WITH t AS (
        SELECT source, sum(n_chars)::BIGINT AS tt
        FROM documents GROUP BY source),
      p AS (SELECT source, tt, round(pow(tt, 0.5), 6) AS p6 FROM t),
      ps AS (SELECT sum(p6::DECIMAL(27,12)) AS s FROM p),
      b AS (
        SELECT source,
          floor((20000 * p6) / (SELECT s::DOUBLE FROM ps))::BIGINT AS budget
        FROM p),
      k AS (
        SELECT source, n_chars,
          md5('tmix1:' || doc_id::VARCHAR) AS mk
        FROM documents),
      c AS (
        SELECT source, n_chars,
          coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY mk
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        FROM k),
      sel AS (
        SELECT c.source, c.n_chars, b.budget
        FROM c JOIN b USING (source) WHERE c.bef < b.budget)
      SELECT source, count(*) AS n_docs,
        sum(n_chars)::BIGINT AS chars_taken, budget
      FROM sel GROUP BY source, budget
      ORDER BY source""") { (s, d) =>
      import graft.operators.Mix
      val docs = Tables.load(s, d, "documents")
      val out = Mix.temperatureMixByTokens(docs, "source", "doc_id",
        "n_chars", alpha = 0.5, budgetTokens = 20000L, seed = "tmix1")
      // recompute the budget table the same way for the evidence column
      // (bounded like Mix.collectSources: LIMIT + loud cardinality check)
      val totalRows = docs.groupBy("source")
        .agg(sum(col("n_chars").cast("decimal(38,0)")).as("t"))
        .limit(10001).collect()
      require(totalRows.length <= 10000,
        "q231 evidence: > 10000 distinct sources — not a source column")
      val totals = totalRows
        .map(r => r.getString(0) -> r.getDecimal(1).longValueExact())
      def p6(t: Long) = BigDecimal(math.pow(t.toDouble, 0.5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val powSum = totals.map { case (_, t) => p6(t) }.sum.toDouble
      val sq = s; import sq.implicits._
      val budgets = totals.map { case (src, t) =>
        (src, math.floor(20000L * p6(t).toDouble / powSum).toLong)
      }.toSeq.toDF("source", "budget")
      out.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_taken"))
        .join(budgets, "source")
        .orderBy("source")
    })

  /** Engineered features shared by the Spark side and (textually
    * mirrored) the oracle: f1 = round(ln(1+len),6), f2 = round-6 digit
    * ratio, f3 = round-6 ws-token-count/100, label y = doc_id % 3 == 0.
    * All three reduce to exact integer counts before one double op, so
    * both engines see bit-identical inputs. */
  private def logregFeatures(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      round(log(lit(1.0) + length(col("text"))), 6).as("f1"),
      round(length(regexp_replace(col("text"), "[^0-9]", ""))
        .cast("double") / length(col("text")), 6).as("f2"),
      round(size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
        .cast("double") / 100.0, 6).as("f3"),
      (col("doc_id") % 3 === 0).cast("int").as("y"))

  /** DuckDB replay of `Classifier.logisticFit` + `logisticScore`:
    * starting from zero weights, each round computes round-6 sigmoid
    * probabilities, decimal(27,12)-exact mean-gradient sums and round-6
    * weight updates as chained CTEs; the final SELECT scores every
    * document with the last round's weights. */
  private def duckLogregOracle(iters: Int, lr: Double): String = {
    val feats = """
      f AS (
        SELECT doc_id,
          round(ln(1 + len(text)), 6) AS f1,
          round(len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
            / len(text), 6) AS f2,
          round(len(list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0))::DOUBLE / 100.0, 6) AS f3,
          (doc_id % 3 = 0)::INT::DOUBLE AS y
        FROM documents)"""
    // w0: all-zero weights as a 1-row CTE
    val w0 = "w0 AS (SELECT 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2," +
      " 0.0::DOUBLE AS w3, 0.0::DOUBLE AS b)"
    def prob(wTab: String) =
      s"round(1.0 / (1.0 + exp(-($wTab.b + $wTab.w1 * f1 + $wTab.w2 * f2" +
        s" + $wTab.w3 * f3))), 6)"
    val rounds = (0 until iters).map { i =>
      s"""g$i AS (
        SELECT
          sum(((p - y) * f1)::DECIMAL(27,12)) AS g1,
          sum(((p - y) * f2)::DECIMAL(27,12)) AS g2,
          sum(((p - y) * f3)::DECIMAL(27,12)) AS g3,
          sum((p - y)::DECIMAL(27,12)) AS gb,
          count(*) AS n
        FROM (SELECT f.*, ${prob(s"w$i")} AS p FROM f CROSS JOIN w$i) t),
      w${i + 1} AS (
        SELECT
          round(w$i.w1 - $lr * (g$i.g1::DOUBLE) / g$i.n, 6) AS w1,
          round(w$i.w2 - $lr * (g$i.g2::DOUBLE) / g$i.n, 6) AS w2,
          round(w$i.w3 - $lr * (g$i.g3::DOUBLE) / g$i.n, 6) AS w3,
          round(w$i.b  - $lr * (g$i.gb::DOUBLE) / g$i.n, 6) AS b
        FROM g$i CROSS JOIN w$i)"""
    }.mkString(",\n")
    s"""WITH $feats,
      $w0,
      $rounds
      SELECT doc_id, ${prob(s"w$iters")} AS prob,
        (${prob(s"w$iters")} >= 0.5)::INT AS label_pred
      FROM f CROSS JOIN w$iters
      ORDER BY doc_id"""
  }
}
