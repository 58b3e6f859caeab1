package graft

import Queries._
import org.apache.spark.sql.functions._

/** Round-2 evidence-gap closers (VERDICT r01 "What's missing" #4 and
  * "do this" #5/#9): join types, UDTFs, and scalar functions that were
  * implemented-by-construction but had no green CORRECTNESS row.
  *
  * References: RIGHT OUTER in plan/JoinDesc.java:42-47; inline UDTF in
  * ql/exec/FunctionRegistry.java:434-439; encode/decode :236-237;
  * current_database/current_user :314-317; percentile_approx :381.
  */
object GapQueries {

  /** Sentinel id for rows planted by the q126–q128 invariants. */
  private val PlantedId = 9000000L

  /** Row 0 duplicated verbatim under [[PlantedId]] — the LSH pipelines
    * must rediscover the (0, PlantedId) pair. */
  private def plantCopy(df: org.apache.spark.sql.DataFrame,
      idCol: String, payloadCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(idCol, payloadCol)
    base.unionByName(base.filter(col(idCol) === 0L)
      .select(lit(PlantedId).as(idCol), col(payloadCol)))
  }

  private def plantedPair: org.apache.spark.sql.Column =
    col("id_a") === 0L && col("id_b") === PlantedId

  def all: Seq[Q] = Seq(
    // -- RIGHT OUTER JOIN: customers without orders must survive from the
    //    right side (TPC-H Q13 shape, mirrored)
    dual("q100_right_outer", """
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM orders o RIGHT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey"""),

    // -- inline UDTF: explode an array of structs into columns
    sqlQ("q101_inline", """
      SELECT o_orderkey, i.k AS k, i.v AS v
      FROM orders
      LATERAL VIEW inline(array(
        named_struct('k', 'status',   'v', o_orderstatus),
        named_struct('k', 'priority', 'v', o_orderpriority))) i AS k, v
      WHERE o_orderkey < 20
      ORDER BY o_orderkey, k""", """
      SELECT o_orderkey, k, v FROM (
        SELECT o_orderkey, 'status' AS k, o_orderstatus AS v
        FROM orders WHERE o_orderkey < 20
        UNION ALL
        SELECT o_orderkey, 'priority' AS k, o_orderpriority AS v
        FROM orders WHERE o_orderkey < 20)
      ORDER BY o_orderkey, k"""),

    // -- encode/decode binary round-trip + base64 of the encoded bytes
    sqlQ("q102_encode_decode", """
      SELECT n_nationkey,
        decode(encode(n_name, 'UTF-8'), 'UTF-8') AS roundtrip,
        base64(encode(n_name, 'UTF-8')) AS b64
      FROM nation ORDER BY n_nationkey""", """
      SELECT n_nationkey,
        decode(encode(n_name)) AS roundtrip,
        to_base64(encode(n_name)) AS b64
      FROM nation ORDER BY n_nationkey"""),

    // -- session-context functions; values pinned by the harness (Verify
    //    runs in the default database as the root user)
    sqlQ("q103_context_funcs", """
      SELECT current_database() AS db, current_user() AS usr,
        current_catalog() AS cat
      FROM nation WHERE n_nationkey = 0""", """
      SELECT 'default' AS db, 'root' AS usr, 'spark_catalog' AS cat
      FROM nation WHERE n_nationkey = 0"""),

    // -- percentile_approx parity: the sketch's rank error at
    //    accuracy=10000 is bounded; oracle the bound as an invariant plus
    //    the exact percentiles it must bracket (q49 covers exact already)
    sqlQ("q104_approx_percentile", """
      SELECT l_returnflag,
        abs(approx_percentile(l_quantity, 0.5, 10000)
          - percentile(l_quantity, 0.5)) <= 1.0 AS p50_ok,
        abs(approx_percentile(l_extendedprice, 0.9, 10000)
          - percentile(l_extendedprice, 0.9))
          <= 0.01 * percentile(l_extendedprice, 0.9) AS p90_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""", """
      SELECT l_returnflag, true AS p50_ok, true AS p90_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // -- real PNG IHDR decode: payloads are planted PNGs whose dimensions
    //    derive from the key, so the oracle recomputes them arithmetically
    //    while Spark must extract them from the actual header bytes
    dfQ("q105_png_headers", """
      SELECT o_orderkey AS id, 'image' AS kind, 'image/png' AS mime,
        o_orderkey % 1920 + 32 AS width, o_orderkey % 1080 + 32 AS height
      FROM orders WHERE o_orderkey < 200 ORDER BY id""") { (s, d) =>
      val planted = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 200)
        .select(col("o_orderkey").as("doc_id"),
          unhex(concat(
            lit("89504E470D0A1A0A0000000D49484452"),
            lpad(hex((col("o_orderkey") % 1920 + 32).cast("int")), 8, "0"),
            lpad(hex((col("o_orderkey") % 1080 + 32).cast("int")), 8, "0"),
            lit("0806000000"))).as("payload"))
      graft.operators.Multimodal
        .withDecodedMeta(planted, "doc_id", "payload", kind = "image")
        .select(col("id"), col("meta.kind").as("kind"),
          col("meta.mimeType").as("mime"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("id")
    },

    // -- PII detection + redaction (curation stage): PII is planted
    //    deterministically from the key on both sides; Spark must find
    //    and redact it with the real regexes, DuckDB replicates them
    //    (RE2-compatible patterns, 'g' flag for global replace)
    dfQ("q106_pii_redact", """
      WITH planted AS (
        SELECT doc_id,
          text || ' mail u' || doc_id ||
          '@ex.com ip 10.0.' || (doc_id % 256) ||
          '.7 tel 555-123-4567 ssn 123-45-' ||
          lpad(cast(doc_id % 10000 AS varchar), 4, '0') AS text
        FROM documents WHERE doc_id < 100)
      SELECT doc_id,
        len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssns,
        len(regexp_extract_all(text,
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
          '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
      FROM planted
      ORDER BY doc_id""") { (s, d) =>
      val planted = Tables.load(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" mail u"), col("doc_id"), lit("@ex.com ip 10.0."),
            col("doc_id") % 256, lit(".7 tel 555-123-4567 ssn 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      graft.operators.Pii.withRedaction(planted, "text")
        .select(col("doc_id"),
          col("pii.n_emails").as("n_emails"), col("pii.n_ssns").as("n_ssns"),
          col("pii.n_phones").as("n_phones"), col("text").as("redacted"))
        .orderBy("doc_id")
    },

    // -- symmetric int8 embedding quantization: the quantized ints and
    //    scale oracle exactly (identical IEEE arithmetic both engines,
    //    explicit floor-half-up rounding); the dequantization error bound
    //    is checked as an invariant
    dfQ("q107_int8_quant", """
      WITH q AS (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding,
            x -> abs(cast(x AS double)))) / 127.0 AS q_scale
        FROM embeddings)
      SELECT vec_id,
        to_json(list_transform(embedding,
          x -> cast(floor(cast(x AS double)/q_scale + 0.5) AS int))) AS qvec,
        q_scale AS scale, true AS dq_ok
      FROM q ORDER BY vec_id""") { (s, d) =>
      import graft.operators.Vectors
      val q = Vectors.withInt8Quantized(
        Tables.load(s, d, "embeddings"), "embedding")
      val dq = Vectors.dequantize(col("q_vec"), col("q_scale"))
      val maxErr = aggregate(
        zip_with(col("embedding"), dq, (x, y) => abs(x.cast("double") - y)),
        lit(0.0), (acc, v) => greatest(acc, v))
      q.select(col("vec_id"), to_json(col("q_vec")).as("qvec"),
        col("q_scale").as("scale"),
        (maxErr <= col("q_scale") * 0.5000001).as("dq_ok"))
        .orderBy("vec_id")
    },

    // -- mean pooling per label: element-wise decimal-exact average,
    //    compared row-wise per (label, pos) — no JSON float formatting
    //    in the compare path
    dfQ("q108_mean_pool", """
      SELECT label, pos,
        round(cast(sum(cast(e AS decimal(27,12))) AS double) / count(*), 6)
          AS avg_e
      FROM (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
          unnest(embedding) AS e
        FROM embeddings)
      GROUP BY label, pos
      ORDER BY label, pos""") { (s, d) =>
      import graft.operators.Vectors
      Vectors.meanPool(Tables.load(s, d, "embeddings"),
        Seq("label"), "embedding")
        .select(col("label"),
          posexplode(col("mean_vec")).as(Seq("pos", "avg_e")))
        .select(col("label"), (col("pos") + 1).as("pos"),
          round(col("avg_e"), 6).as("avg_e"))
        .orderBy("label", "pos")
    },

    // -- ScriptOperator with column-subset serde: two columns serialized
    //    tab-delimited into the script, one selected back out (q69 covers
    //    the identity /bin/cat path; this exercises the field mapping)
    sqlQ("q109_transform_fields", """
      SELECT cast(k AS bigint) AS o_orderkey, status
      FROM (
        SELECT TRANSFORM(o_orderkey, o_orderstatus)
        USING 'cut -f1,2' AS (k STRING, status STRING)
        FROM orders WHERE o_orderkey < 100) t
      ORDER BY o_orderkey""", """
      SELECT o_orderkey, o_orderstatus AS status
      FROM orders WHERE o_orderkey < 100
      ORDER BY o_orderkey"""),

    // -- time-interval RANGE window frame (PTF boundary spec
    //    ValueBoundarySpec over timestamps): trailing 1-day sum per user
    sqlQ("q110_range_interval_window", """
      SELECT user_id, ts,
        cast(sum(cast(value AS decimal(18,2))) OVER (
          PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
          AS double) AS day_sum
      FROM events
      ORDER BY user_id, ts""", """
      SELECT user_id, ts,
        cast(sum(cast(value AS decimal(18,2))) OVER (
          PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL '1 day' PRECEDING AND CURRENT ROW)
          AS double) AS day_sum
      FROM events
      ORDER BY user_id, ts"""),

    // -- ewah_bitmap UDAF family (GenericUDAFEWAHBitmap + and/or/empty
    //    UDFs): bitmap cardinalities and set algebra oracle as DISTINCT
    //    counts / INTERSECT in plain SQL
    sqlQ("q111_bitmap_family", """
      SELECT l_returnflag,
        bitmap_count(ewah_bitmap(l_linenumber)) AS ndv_all,
        bitmap_count(ewah_bitmap_and(
          ewah_bitmap(CASE WHEN l_linestatus = 'F' THEN l_linenumber END),
          ewah_bitmap(CASE WHEN l_linestatus = 'O' THEN l_linenumber END))) AS ndv_both,
        ewah_bitmap_empty(
          ewah_bitmap(CASE WHEN l_quantity < 0 THEN l_linenumber END)) AS none_neg
      FROM lineitem
      GROUP BY l_returnflag ORDER BY l_returnflag""", """
      WITH stats AS (
        SELECT l_returnflag,
          count(DISTINCT l_linenumber) AS ndv_all,
          count(*) FILTER (WHERE l_quantity < 0) = 0 AS none_neg
        FROM lineitem GROUP BY l_returnflag),
      inboth AS (
        SELECT l_returnflag, count(*) AS ndv_both FROM (
          SELECT DISTINCT l_returnflag, l_linenumber FROM lineitem
          WHERE l_linestatus = 'F'
          INTERSECT
          SELECT DISTINCT l_returnflag, l_linenumber FROM lineitem
          WHERE l_linestatus = 'O')
        GROUP BY l_returnflag)
      SELECT s.l_returnflag, s.ndv_all,
        coalesce(b.ndv_both, 0) AS ndv_both, s.none_neg
      FROM stats s LEFT JOIN inboth b USING (l_returnflag)
      ORDER BY s.l_returnflag"""),

    // -- LATERAL VIEW OUTER: rows whose generator input is empty survive
    //    with NULL (HiveParser KW_OUTER lateral view; q36-q39 cover the
    //    inner variant)
    sqlQ("q112_lateral_view_outer", """
      WITH base AS (
        SELECT doc_id, filter(split(text, ' '), x -> length(x) >= 8) AS arr
        FROM documents WHERE doc_id < 50)
      SELECT doc_id, w
      FROM base LATERAL VIEW OUTER explode(arr) e AS w
      ORDER BY doc_id, w""", """
      WITH base AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> len(x) >= 8) AS arr
        FROM documents WHERE doc_id < 50)
      SELECT doc_id, unnest(arr) AS w FROM base WHERE len(arr) > 0
      UNION ALL
      SELECT doc_id, NULL AS w FROM base WHERE len(arr) = 0
      ORDER BY doc_id, w"""),

    // -- round-2 capstone: prep pipeline composing the new operators —
    //    plant PII → redact (Pii) → quality+repetition gate (TextProfile
    //    ratios) → deterministic exact dedup (keep lowest id) → per-lang
    //    stats with redaction audit totals
    dfQ("q116_prep_pipeline", """
      WITH planted AS (
        SELECT doc_id, lang,
          text || ' contact u' || doc_id || '@ex.com now' AS text
        FROM documents
      ), redacted AS (
        SELECT doc_id, lang,
          len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_pii,
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
            AS text
        FROM planted
      ), toks AS (
        SELECT doc_id, lang, n_pii, text,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> len(x) > 0) AS t
        FROM redacted
      ), gated AS (
        SELECT doc_id, lang, n_pii, text, len(t) AS n_tokens
        FROM toks WHERE len(t) >= 25
      ), deduped AS (
        SELECT min(doc_id) AS keep_id,
          arg_min(lang, doc_id) AS lang,
          arg_min(n_pii, doc_id) AS n_pii,
          arg_min(n_tokens, doc_id) AS n_tokens
        FROM gated GROUP BY text
      )
      SELECT lang, count(*) AS n_docs,
        sum(n_tokens)::BIGINT AS sum_tokens,
        sum(n_pii)::BIGINT AS total_pii
      FROM deduped
      GROUP BY lang ORDER BY lang""") { (s, d) =>
      import graft.operators.{Dedup, Pii, TextAnalysis}
      val planted = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@ex.com now")).as("text"))
      // email-only redaction, matching the oracle's single class: the
      // full Pii.redact also rewrites SSN/phone/IP patterns, which the
      // oracle doesn't model — parity must be structural, not an
      // accident of the corpus being digit-pattern-free
      val redacted = planted.select(col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"), lit(Pii.Email), lit(0)))
          .as("n_pii"),
        regexp_replace(col("text"), lit(Pii.Email), lit("<EMAIL>"))
          .as("text"))
      val gated = redacted
        .withColumn("m", TextAnalysis.qualityMetrics(col("text")))
        .filter(col("m.n_tokens") >= 25)
        .select(col("doc_id"), col("lang"), col("n_pii"),
          col("m.n_tokens").as("n_tokens"), col("text"))
      val deduped = Dedup.exactKeepMin(gated, Seq("text"), "doc_id")
      deduped.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_pii").cast("long")).as("total_pii"))
        .orderBy("lang")
    },

    // -- within-doc n-gram repetition ratio (C4/Gopher-style boilerplate
    //    signal): fraction of trigram occurrences that repeat
    dfQ("q115_repetition_ratio", """
      WITH tok AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> len(x) > 0) AS t
        FROM documents),
      sh AS (
        SELECT doc_id, list_transform(range(1, len(t) - 1),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
        FROM tok WHERE len(t) >= 3)
      SELECT doc_id,
        round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 6) AS rep_ratio
      FROM sh WHERE len(s) > 0
      ORDER BY doc_id""") { (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          round(graft.operators.TextAnalysis.repetitionRatio(col("text"), 3), 6)
            .as("rep_ratio"),
          size(graft.operators.TextOps.shingleSet(col("text"), 3,
            distinct = false)).as("_n"))
        .filter(col("_n") > 0)
        .drop("_n")
        .orderBy("doc_id")
    },

    // -- backward as-of join (time-series state lookup; Spark has no AsOf
    //    node): each click picks the user's most recent purchase value.
    //    Union-tag + running last() — one shuffle, no range explosion.
    //    DuckDB's native ASOF LEFT JOIN is the oracle.
    dfQ("q119_asof_join", """
      WITH clicks AS (
        SELECT event_id, user_id, ts::TIMESTAMP AS ts
        FROM events WHERE event_type = 'click'
      ), purchases AS (
        SELECT user_id, ts::TIMESTAMP AS ts, value
        FROM events WHERE event_type = 'purchase'
      )
      SELECT c.event_id, c.user_id, p.value AS last_purchase
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.event_id""") { (s, d) =>
      import graft.operators.AsOfJoin
      val ev = Tables.load(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.backward(clicks, purchases, Seq("user_id"),
          leftTs = "ts", rightTs = "ts", payload = Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("value").as("last_purchase"))
        .orderBy("event_id")
    },

    // -- bucketized range join (point-in-interval without the
    //    BroadcastNestedLoop scale-killer): events against planted
    //    maintenance windows derived from region keys on both sides
    //    (window r = [2024-01-01 + 6r days, +4 days), epoch micros)
    dfQ("q120_range_join", """
      WITH f AS (
        SELECT event_id, value, epoch_us(ts::TIMESTAMP) AS p FROM events
      ), r AS (
        SELECT r_regionkey AS window_id,
          1704067200000000 + r_regionkey * 518400000000 AS start_us,
          1704067200000000 + r_regionkey * 518400000000
            + 345600000000 AS end_us
        FROM region
      )
      SELECT window_id, count(*) AS n_events,
        cast(sum(cast(value as decimal(18,6))) as double) AS total_value
      FROM f JOIN r ON f.p >= r.start_us AND f.p < r.end_us
      GROUP BY window_id
      ORDER BY window_id""") { (s, d) =>
      import graft.operators.RangeJoin
      val facts = Tables.load(s, d, "events")
        .select(col("event_id"), col("value"), unix_micros(col("ts")).as("p"))
      val ranges = Tables.load(s, d, "region")
        .select(col("r_regionkey").cast("long").as("window_id"))
        .withColumn("start_us",
          lit(1704067200000000L) + col("window_id") * lit(518400000000L))
        .withColumn("end_us", col("start_us") + lit(345600000000L))
      RangeJoin.pointInRange(facts, "p", ranges, "start_us", "end_us",
          bucketWidth = 86400000000L) // 1-day buckets ≈ window width / 4
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("total_value"))
        .orderBy("window_id")
    },

    // -- gap sessionization, batch mode: the oracle row for the
    //    flatMapGroupsWithState streaming path (same lag + running
    //    session-id semantics; StreamingSpec asserts stream/batch parity).
    //    `total` (raw double sum) is excluded — merge-order-sensitive.
    dfQ("q121_sessionize", """
      WITH e AS (
        SELECT user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
      ), d AS (
        SELECT user_id, ts_ms,
          CASE WHEN lag(ts_ms) OVER w IS NULL
                 OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0
          END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
      ), s AS (
        SELECT user_id, ts_ms,
          count(*) FILTER (WHERE brk = 1) OVER (
            PARTITION BY user_id ORDER BY ts_ms
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM d
      )
      SELECT user_id, session_id, min(ts_ms) AS start_ms,
        max(ts_ms) AS end_ms, count(*) AS n_events
      FROM s GROUP BY user_id, session_id
      ORDER BY user_id, session_id""") { (s, d) =>
      graft.streaming.Ingest.sessionizeBatch(
          Tables.load(s, d, "events"), "user_id", "ts", gapMs = 1800000L)
        .select(col("user_id"), col("session_id"), col("start_ms"),
          col("end_ms"), col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "session_id")
    },

    // -- IVF recall invariant (the boolean-invariant oracle pattern from
    //    q78/q104): recall@10 of nprobe=3 IVF vs the exact brute-force
    //    top-10, computed entirely in-engine, asserted >= 0.5. Gives the
    //    approximate ANN path a hash-checked CORRECTNESS row on top of
    //    q56's rows-only output.
    dfQ("q125_ivf_recall", """
      SELECT true AS recall_ok, 10 AS k""") { (s, d) =>
      import graft.operators.Similarity
      val emb = Tables.load(s, d, "embeddings")
      val sq = s; import sq.implicits._
      // Mean recall@10 over 5 probe queries against ONE shared index —
      // a single query's recall swings hard with each testdata sample
      // (observed 5/10..10/10 across probe ids), the mean is stable.
      // Top-k lists are tiny — collect once, compare locally.
      val ivf = Similarity.buildIvf(emb, "vec_id", "embedding", nlist = 8)
      val hits = (0L until 5L).map { qid =>
        val q = emb.filter(col("vec_id") === qid)
          .select(col("embedding")).collect().head.getSeq[Float](0)
        val exact = Similarity.topKForId(emb, "vec_id", "embedding",
          queryId = qid, k = 10).select("id").collect().map(_.getLong(0)).toSet
        val approx = Similarity.searchIvf(ivf, q, k = 10, nprobe = 3)
          .select("id").collect().map(_.getLong(0)).toSet
        exact.intersect(approx).size
      }.sum
      Seq(ivf.assigned, ivf.centroids).foreach(WorkingSet.release)
      Seq((hits >= 25, 10)) // mean recall ≥ 0.5 over 50 slots
        .toDF("recall_ok", "k")
    },

    // -- planted-duplicate invariants for the LSH family (q51/q53/q54's
    //    rows-only outputs get hash-checked companions): a verbatim copy
    //    of doc/vec 0 under a synthetic id MUST surface as a pair — an
    //    exact copy shares every band, so LSH recall is 1 by construction
    dfQ("q126_minhash_planted", """
      SELECT true AS found_planted, true AS no_self_pairs""") { (s, d) =>
      import graft.operators.Dedup
      val sq = s; import sq.implicits._
      val pairs = Dedup.minhashNearDups(
        plantCopy(Tables.load(s, d, "documents"), "doc_id", "text"),
        "doc_id", "text")
      val found = Seq((
        pairs.filter(plantedPair).count() == 1L,
        pairs.filter(col("id_a") >= col("id_b")).count() == 0L
      )).toDF("found_planted", "no_self_pairs")
      WorkingSet.release(pairs)
      found
    },

    dfQ("q127_simhash_planted", """
      SELECT true AS found_planted, 0 AS hamming""") { (s, d) =>
      import graft.operators.Dedup
      val sq = s; import sq.implicits._
      val hit = Dedup.simhashNearDups(
          plantCopy(Tables.load(s, d, "documents"), "doc_id", "text"),
          "doc_id", "text")
        .filter(plantedPair).select("hamming").collect()
      Seq((hit.length == 1, if (hit.length == 1) hit.head.getInt(0) else -1))
        .toDF("found_planted", "hamming")
    },

    dfQ("q128_embed_planted", """
      SELECT true AS found_planted, 1.0::DOUBLE AS cosine""") { (s, d) =>
      import graft.operators.Dedup
      val sq = s; import sq.implicits._
      val hit = Dedup.embeddingNearDups(
          plantCopy(Tables.load(s, d, "embeddings"), "vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.95)
        .filter(plantedPair).select(round(col("cosine"), 6)).collect()
      Seq((hit.length == 1, if (hit.length == 1) hit.head.getDouble(0) else -1.0))
        .toDF("found_planted", "cosine")
    },

    // -- fingerprint invariance (q60's companion): both fingerprints are
    //    exactly case/whitespace-insensitive, and the plain fingerprint
    //    separates distinct texts (no collisions on this corpus)
    dfQ("q129_fingerprint_invariant", """
      SELECT true AS fp_invariant, true AS robust_invariant,
        true AS fp_separates""") { (s, d) =>
      import graft.operators.TextAnalysis
      val sq = s; import sq.implicits._
      val docs = Tables.load(s, d, "documents")
      // upper-case + internal whitespace doubling: both fingerprints
      // collapse runs, but only the plain one also trims — so the
      // variant must not add leading/trailing space
      val variant = upper(regexp_replace(col("text"), lit(" "), lit("  ")))
        .as("variant")
      val both = docs.select(
        TextAnalysis.fingerprint(col("text")).as("fp_a"),
        TextAnalysis.fingerprint(variant).as("fp_b"),
        TextAnalysis.robustFingerprint(col("text")).as("rfp_a"),
        TextAnalysis.robustFingerprint(variant).as("rfp_b"))
      val fpInv = both.filter(col("fp_a") =!= col("fp_b")).count() == 0L
      val rfpInv = both.filter(not(col("rfp_a") <=> col("rfp_b"))).count() == 0L
      val distinctTexts = docs.select("text").distinct().count()
      val distinctFps = docs
        .select(TextAnalysis.fingerprint(col("text"))).distinct().count()
      Seq((fpInv, rfpInv, distinctFps == distinctTexts))
        .toDF("fp_invariant", "robust_invariant", "fp_separates")
    }
  )
}
