package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Layout, Sampling, TextAnalysis, TextOps}
import Queries._

/** Round-4 scale-path operators: multi-dimensional layout clustering,
  * corpus indexing/statistics, deterministic shuffling/sampling, and URL
  * canonicalization — each with a DuckDB oracle. */
object ScaleQueries {

  // DuckDB has the same integer bit operators as the zValue expression
  // tree; unroll the identical interleave formula so both engines compute
  // the Morton code independently.
  private def duckZ(bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"(((x >> $i) & 1) << ${2 * i})",
      s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  // DuckDB tokenizer identical to TextOps.tokens (q62/q89 parity rule)
  private val DUCK_TOKENS =
    """list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       x -> len(x) > 0)"""

  // 18 tokens: q168 plants this span so pairs share 3 aligned 16-grams
  private val PLANT_SPAN = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma"

  def all: Seq[Q] = Seq(

    // -- Z-order layout: per-bucket extents prove every clustered
    //    dimension is bounded at once (the multi-column file-skipping
    //    property); both engines compute the Morton code independently
    dfQ("q150_zorder", s"""
      WITH p AS (
        SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem
      ), z AS (
        SELECT x, y, (${duckZ(8)}) AS zv FROM p
      )
      SELECT zv >> 12 AS z_bucket, count(*) AS n,
        min(x) AS x_min, max(x) AS x_max,
        min(y) AS y_min, max(y) AS y_max
      FROM z GROUP BY 1 ORDER BY 1""") { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
        .select(pmod(col("l_partkey"), lit(256)).cast("long").as("x"),
          pmod(col("l_suppkey"), lit(256)).cast("long").as("y"))
      li.withColumn("z", Layout.zValue(Seq(col("x"), col("y")), bits = 8))
        .withColumn("z_bucket", Layout.zBucket(col("z"), dims = 2, bits = 8,
          bucketBits = 4))
        .groupBy("z_bucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("z_bucket")
    },

    // -- inverted index: exact df + capped sorted posting list via the
    //    bounded min_k aggregate (state ≤ k per term even on stop words)
    dfQ("q151_inverted_index", s"""
      WITH tok AS (
        SELECT DISTINCT doc_id, term FROM (
          SELECT doc_id, unnest($DUCK_TOKENS) AS term FROM documents)
      )
      SELECT term, count(*) AS df,
        to_json((list_sort(list(doc_id)))[1:20]) AS postings
      FROM tok GROUP BY term HAVING count(*) >= 25
      ORDER BY term""") { (s, d) =>
      TextAnalysis.invertedIndex(Tables.load(s, d, "documents"),
          "doc_id", "text", maxPostings = 20, minDocFreq = 25L)
        .select(col("term"), col("df"), to_json(col("postings")).as("postings"))
        .orderBy("term")
    },

    // -- bigram collocations by PMI: exact distributed counts, one double
    //    expression (identical op order both engines) rounded 6
    dfQ("q152_collocations", s"""
      WITH tok AS (
        SELECT $DUCK_TOKENS AS t FROM documents
      ), uc AS (
        SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM tok)
        GROUP BY w
      ), bc AS (
        SELECT bg, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(t)),
            i -> t[i] || ' ' || t[i+1])) AS bg
          FROM tok WHERE len(t) >= 2)
        GROUP BY bg
      ), tot AS (
        SELECT (SELECT sum(c)::BIGINT FROM uc) AS nn,
               (SELECT sum(n)::BIGINT FROM bc) AS m
      )
      SELECT split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS b, n,
        round(ln(n::DOUBLE * nn::DOUBLE * nn::DOUBLE /
          (m::DOUBLE * ua.c::DOUBLE * ub.c::DOUBLE)), 6) AS pmi
      FROM bc
      CROSS JOIN tot
      JOIN uc ua ON ua.w = split_part(bg, ' ', 1)
      JOIN uc ub ON ub.w = split_part(bg, ' ', 2)
      WHERE n >= 10
      ORDER BY a, b""") { (s, d) =>
      TextAnalysis.collocations(Tables.load(s, d, "documents"),
          "text", minCount = 10L)
        .select("a", "b", "n", "pmi")
        .orderBy("a", "b")
    },

    // -- deterministic corpus shuffle: stable keyed permutation + round-
    //    robin shards, computed with range partition + broadcast offsets
    //    (never a global single-partition window)
    dfQ("q153_shuffle", """
      WITH k AS (
        SELECT doc_id, md5('s42:' || doc_id::VARCHAR) AS key FROM documents
      ), r AS (
        SELECT doc_id, row_number() OVER (ORDER BY key) - 1 AS pos FROM k
      )
      SELECT doc_id, pos, pos % 8 AS shard FROM r ORDER BY pos""") { (s, d) =>
      Sampling.deterministicShuffle(Tables.load(s, d, "documents"),
          "doc_id", seed = "s42", numShards = 8)
        .select("doc_id", "pos", "shard")
        .orderBy("pos")
    },

    // -- URL canonicalization + canonical-key dedup: planted messy URLs
    //    (uppercase scheme/host, default port, tracking params, fragment)
    //    are REALLY parsed and rebuilt by the engine; the oracle
    //    recomputes the canonical form arithmetically from the plant.
    //    doc_id%5 host × doc_id%250 path ⇒ pairs (i, i+250) collide.
    dfQ("q154_url_canonical", """
      WITH c AS (
        SELECT doc_id,
          'https://www.example' || (doc_id % 5)::VARCHAR || '.com/path/' ||
            (doc_id % 250)::VARCHAR || '?id=' || (doc_id % 250)::VARCHAR
            AS canonical
        FROM documents
      )
      SELECT doc_id, canonical,
        doc_id = min(doc_id) OVER (PARTITION BY canonical) AS keep
      FROM c ORDER BY doc_id""") { (s, d) =>
      val url = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 5).cast("string"),
        lit(".COM:443/path/"), (col("doc_id") % 250).cast("string"),
        lit("?utm_source=x&id="), (col("doc_id") % 250).cast("string"),
        lit("&utm_campaign=y#frag"))
      Tables.load(s, d, "documents")
        .select(col("doc_id"), TextOps.canonicalUrl(url).as("canonical"))
        .withColumn("keep",
          col("doc_id") === min("doc_id").over(Window.partitionBy("canonical")))
        .orderBy("doc_id")
    },

    // -- uniform deterministic k-sample: k smallest md5(seed:id) —
    //    distributed top-k (TakeOrderedAndProject), nested across k
    dfQ("q155_hash_min_k", """
      SELECT doc_id, lang FROM documents
      ORDER BY md5('seed7:' || doc_id::VARCHAR) LIMIT 50""") { (s, d) =>
      Sampling.hashMinK(Tables.load(s, d, "documents")
          .select("doc_id", "lang"), "doc_id", k = 50, seed = "seed7")
    },

    // -- batched exact ANN: all 5 query vectors against the corpus in one
    //    pass, two-phase per-query top-k (no hot-group window)
    dfQ("q157_ann_batch", """
      WITH s AS (
        SELECT q.vec_id AS qid, b.vec_id AS id,
          list_cosine_similarity(q.embedding, b.embedding)::DOUBLE AS cos,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding, b.embedding) DESC,
                     b.vec_id) AS rank
        FROM embeddings q, embeddings b WHERE q.vec_id < 5)
      SELECT qid, id, round(cos, 4) AS cos4, rank
      FROM s WHERE rank <= 5 ORDER BY qid, rank""") { (s, d) =>
      val emb = Tables.load(s, d, "embeddings")
      graft.operators.Similarity.topKBatch(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("qid"), col("id"), round(col("cosine"), 4).as("cos4"),
          col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    },

    // -- fixed-k-per-group sample: 5 docs per language via bounded min_k
    //    over a 60-bit md5-derived key + join-back (no per-group sort)
    dfQ("q158_group_sample", """
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
          ORDER BY ('0x' || substr(md5('g1:' || doc_id::VARCHAR), 1, 15))::BIGINT)
          AS rn
        FROM documents)
      WHERE rn <= 5 ORDER BY lang, doc_id""") { (s, d) =>
      Sampling.groupSample(Tables.load(s, d, "documents")
          .select("doc_id", "lang"), "lang", "doc_id", k = 5, seed = "g1")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    },

    // -- per-host document cap (crawl diversity shaping): REAL host
    //    extraction from planted URLs, then a deterministic fixed-k cap
    //    per host via the bounded groupSample
    dfQ("q159_host_cap", """
      WITH u AS (
        SELECT doc_id,
          'www.example' || (doc_id % 5)::VARCHAR || '.com' AS host
        FROM documents),
      r AS (
        SELECT doc_id, host, row_number() OVER (PARTITION BY host
          ORDER BY ('0x' || substr(md5('h1:' || doc_id::VARCHAR), 1, 15))::BIGINT)
          AS rn
        FROM u)
      SELECT doc_id, host FROM r WHERE rn <= 3
      ORDER BY host, doc_id""") { (s, d) =>
      val url = concat(lit("https://www.example"),
        (col("doc_id") % 5).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val hosts = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          call_function("try_parse_url", url, lit("HOST")).as("host"))
      Sampling.groupSample(hosts, "host", "doc_id", k = 3, seed = "h1")
        .orderBy("host", "doc_id")
    },

    // -- keep-best cluster dedup: q148's exact-Jaccard clusters, but the
    //    survivor is the highest-n_chars member (ties → smallest id) —
    //    the curation policy that keeps the clean original over the
    //    mangled scrape
    dfQ("q160_dedup_keep_best",
      graft.PipelineQueries.DUCK_SHINGLES_RECURSIVE + """
      , pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a
        JOIN sh b ON a.lang = b.lang AND a.source = b.source
                 AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE /
              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.02),
      e AS (
        SELECT id_a AS src, id_b AS dst FROM pr
        UNION SELECT id_b, id_a FROM pr),
      reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      comp AS (
        SELECT d.doc_id, d.n_chars,
          least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
        FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id, d.n_chars),
      k AS (
        SELECT doc_id, row_number() OVER (PARTITION BY component
          ORDER BY n_chars DESC, doc_id) AS rn
        FROM comp)
      SELECT doc_id FROM k WHERE rn = 1 ORDER BY doc_id""") { (s, d) =>
      import graft.operators.Dedup
      val docs = Tables.load(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang", "source"), shingleSize = 3,
        threshold = 0.02)
      Dedup.dedupByClusterKeepBest(docs, "doc_id", pairs, "id_a", "id_b",
          "n_chars")
        .select("doc_id")
        .orderBy("doc_id")
    },

    // -- HTML -> text: the engine strips REAL markup (script/comment/tag
    //    removal + entity decode) planted around the corpus text; the
    //    oracle recomputes the expected clean text arithmetically
    dfQ("q161_strip_html", """
      SELECT doc_id,
        trim(regexp_replace(
          'Title&' || (doc_id % 7)::VARCHAR || ' ' || text,
          '\s+', ' ', 'g')) AS clean
      FROM documents ORDER BY doc_id""") { (s, d) =>
      val html = concat(
        lit("<html><!-- nav --><script>var x=1;</script><h1>Title&amp;"),
        (col("doc_id") % 7).cast("string"),
        lit("</h1><p class=\"b\">"), col("text"), lit("</p>&nbsp;</html>"))
      Tables.load(s, d, "documents")
        .select(col("doc_id"), TextOps.stripHtml(html).as("clean"))
        .orderBy("doc_id")
    },

    // -- dataset diff: compare two pipeline outputs by key without any
    //    driver-side collect; planted removals/changes/additions are
    //    recovered exactly
    dfQ("q162_dataset_diff", """
      WITH st AS (
        SELECT CASE WHEN doc_id % 97 = 0 THEN 'removed'
                    WHEN doc_id % 101 = 0 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM documents)
      SELECT status, count(*) AS n FROM st GROUP BY status
      UNION ALL SELECT 'added', 5
      ORDER BY status""") { (s, d) =>
      import graft.operators.Diff
      val a = Tables.load(s, d, "documents")
      val added = a.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 9000000L)
      val b = a.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(101)) === 0,
            concat(lit("MODIFIED "), col("text"))).otherwise(col("text")))
        .unionByName(added)
      Diff.diffSummary(a, b, Seq("doc_id")).orderBy("status")
    },

    // -- REAL audio content decode: planted canonical PCM16 WAVs whose
    //    sample values derive from the key; the engine folds count/peak/
    //    energy from the actual bytes, the oracle recomputes them
    //    arithmetically from the generating formula
    dfQ("q163_wav_pcm", """
      WITH s AS (
        SELECT o_orderkey AS id, unnest(range(0, 8)) AS i
        FROM orders WHERE o_orderkey < 100),
      v AS (SELECT id, (id * 31 + i * 7) % 4096 AS val FROM s)
      SELECT id, count(*)::INT AS n_samples, max(val)::INT AS peak,
        sum(val * val)::BIGINT AS sum_sq,
        round(sqrt(sum(val * val)::DOUBLE / count(*)), 6) AS rms
      FROM v GROUP BY id ORDER BY id""") { (s, d) =>
      def le16hex(c: org.apache.spark.sql.Column) = {
        val h = lpad(hex(c.cast("int")), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
      // canonical 44-byte mono PCM16 header @8kHz + 8 planted samples
      val header = "52494646" + "34000000" + "57415645" + "666D7420" +
        "10000000" + "0100" + "0100" + "401F0000" + "803E0000" + "0200" +
        "1000" + "64617461" + "10000000"
      val samples = (0 until 8).map(i =>
        le16hex((col("o_orderkey") * 31 + i * 7) % 4096))
      val wav = unhex(concat((lit(header) +: samples): _*))
      val planted = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 100)
        .select(col("o_orderkey").as("id"), wav.as("payload"))
      planted
        .select(col("id"),
          graft.operators.Multimodal.wavPcm16Stats(col("payload")).as("st"))
        .select(col("id"),
          col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
          col("st.sum_sq").as("sum_sq"),
          round(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples")), 6)
            .as("rms"))
        .orderBy("id")
    },

    // -- incremental dedup: a verbatim copy probed against a PRE-BUILT
    //    index must surface (exact copies share every band ⇒ recall 1 by
    //    construction), a novel doc must not; only the new batch is
    //    sketched — the corpus-scale operational shape
    dfQ("q156_incremental_dedup", """
      SELECT true AS found_planted, true AS novel_clean""") { (s, d) =>
      import graft.operators.Dedup
      val sq = s; import sq.implicits._
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val index = Dedup.buildMinhashIndex(docs, "doc_id", "text")
      val newBatch = docs.filter(col("doc_id") === 0L)
        .select(lit(9000001L).as("doc_id"), col("text"))
        .unionByName(Seq((9000002L,
          "zyx quixotic vermillion axolotl numbat parallax grommet"))
          .toDF("doc_id", "text"))
      val hits = WorkingSet.using(index.shingled, index.banded) {
        Dedup.minhashAgainstIndex(newBatch, "doc_id", "text", index)
      }
      val found = Seq((
        hits.filter(col("new_id") === 9000001L && col("index_id") === 0L)
          .count() == 1L,
        hits.filter(col("new_id") === 9000002L).count() == 0L
      )).toDF("found_planted", "novel_clean")
      WorkingSet.release(hits)
      found
    },

    // -- training-mix drift: per-source KL divergence of the language
    //    distribution vs the corpus-global distribution; exact decimal
    //    term sums make the float result merge-order-independent
    dfQ("q164_kl_drift", """
      WITH cell AS (
        SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
      s AS (SELECT source, sum(c)::BIGINT AS ns FROM cell GROUP BY 1),
      g AS (SELECT lang, sum(c)::BIGINT AS ck FROM cell GROUP BY 1),
      t AS (SELECT sum(c)::BIGINT AS n FROM cell),
      term AS (
        SELECT cell.source, s.ns,
          round((cell.c::DOUBLE / s.ns::DOUBLE) *
            ln((cell.c::DOUBLE * t.n::DOUBLE) /
               (s.ns::DOUBLE * g.ck::DOUBLE)), 12)::DECIMAL(28,12) AS tt
        FROM cell JOIN s USING (source) JOIN g USING (lang) CROSS JOIN t)
      SELECT source, max(ns) AS n, round(sum(tt)::DOUBLE, 6) AS kl
      FROM term GROUP BY source ORDER BY source""") { (s, d) =>
      graft.operators.Mix.klDrift(
          Tables.load(s, d, "documents"), "source", "lang")
        .orderBy("source")
    },

    // -- training-mix construction: per-source char budgets met by a
    //    deterministic hash-ordered prefix (boundary doc included);
    //    oracle replays the same selection with a window cumulative sum
    dfQ("q165_mix_budget", """
      WITH k AS (
        SELECT source, n_chars,
          md5('mix7:' || doc_id::VARCHAR) AS mk
        FROM documents),
      c AS (
        SELECT source, n_chars,
          coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY mk
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        FROM k),
      sel AS (
        SELECT source, n_chars, bef FROM c
        WHERE bef < 5000 * len(source))
      SELECT source, count(*) AS n_docs,
        sum(n_chars)::BIGINT AS chars_taken,
        (5000 * len(source))::BIGINT AS budget
      FROM sel GROUP BY source ORDER BY source""") { (s, d) =>
      import graft.operators.Mix
      val docs = Tables.load(s, d, "documents")
      val budgets = docs.select("source").distinct()
        .withColumn("budget", lit(5000L) * length(col("source")))
      Mix.takeByTokenBudget(docs, "source", "doc_id", "n_chars",
          budgets, "mix7")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars_taken"))
        .withColumn("budget", lit(5000L) * length(col("source")))
        .orderBy("source")
    },

    // -- bigram-LM fluency scoring (CCNet-style): the model is trained on
    //    the corpus itself, both engines replay the identical add-k
    //    estimate; exact decimal log-prob sums keep the score stable
    dfQ("q166_bigram_lm", s"""
      WITH d AS (SELECT doc_id, $DUCK_TOKENS AS ts FROM documents),
      tok AS (
        SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i
        FROM d),
      bi AS (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      big AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
      cx AS (SELECT w1, count(*) AS cw FROM bi GROUP BY 1),
      v AS (SELECT count(DISTINCT w) AS v FROM tok),
      term AS (
        SELECT bi.doc_id,
          round(ln((big.c + 0.5) / (cx.cw + 0.5 * v.v)),
            12)::DECIMAL(28,12) AS lp
        FROM bi JOIN big USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v)
      SELECT doc_id, count(*) AS n_bigrams,
        round(-(sum(lp)::DOUBLE) / count(*), 6) AS avg_nll
      FROM term GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      TextAnalysis.bigramNll(
          Tables.load(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // -- mojibake repair: the engine un-garbles REAL UTF-8-read-as-
    //    Latin-1 bytes (planted by the same double-encode both engines
    //    can describe); the oracle emits the expected clean text directly
    dfQ("q167_fix_mojibake", """
      SELECT doc_id,
        substring(text, 1, 40) || ' caf' || chr(233) || ' r' || chr(233)
          || 'sum' || chr(233) AS clean,
        true AS was_broken
      FROM documents ORDER BY doc_id""") { (s, d) =>
      val orig = concat(substring(col("text"), 1, 40),
        lit(" caf\u00e9 r\u00e9sum\u00e9"))
      val moji = decode(encode(orig, "UTF-8"), "ISO-8859-1")
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          TextOps.fixMojibake(moji).as("clean"),
          (moji =!= orig).as("was_broken"))
        .orderBy("doc_id")
    },

    // -- exact shared-span (verbatim copy) detection: an 18-token span
    //    planted into every doc_id%100 doc must surface as pairs sharing
    //    3 aligned 16-grams; the oracle replays the identical gram join
    //    on real strings (the engine's hash path must verify-exact)
    dfQ("q168_shared_spans", s"""
      WITH d AS (
        SELECT doc_id,
          CASE WHEN doc_id % 100 = 0 THEN text || ' $PLANT_SPAN'
               ELSE text END AS text
        FROM documents),
      t AS (SELECT doc_id, $DUCK_TOKENS AS t FROM d),
      p AS (
        SELECT doc_id, t, unnest(range(1, len(t) - 14)) AS i FROM t
        WHERE len(t) >= 16),
      g AS (
        SELECT doc_id, array_to_string(t[i:i+15], ' ') AS gram FROM p)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_spans
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
      import graft.operators.Dedup
      val planted = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(100)) === 0,
            concat(col("text"), lit(" " + PLANT_SPAN)))
            .otherwise(col("text")).as("text"))
      Dedup.sharedSpans(planted, "doc_id", "text", spanTokens = 16)
        .orderBy("id_a", "id_b")
    },

    // -- SemDeDup (cluster-then-prune semantic dedup): the oracle replays
    //    the deterministic centroid assignment (k lowest-id vectors) and
    //    the intra-cluster eps-prune with DuckDB's own cosine. eps=0.43
    //    sits in a measured >=8e-5-wide gap of the pair-cosine
    //    distribution at sf0.01 AND sf0.1, and the assignment argmax
    //    margin is >=4.7e-5 — both orders of magnitude above cross-engine
    //    float noise, so the boolean/cid outputs are bit-stable.
    dfQ("q169_semantic_dedup", """
      WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        ORDER BY vec_id LIMIT 8),
      asg AS (
        SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                     c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c),
      best AS (SELECT id, vec, cid FROM asg WHERE rn = 1)
      SELECT b.id, b.cid,
        EXISTS (SELECT 1 FROM best a WHERE a.cid = b.cid AND a.id < b.id
          AND list_cosine_similarity(a.vec, b.vec) >= 0.43) AS dropped
      FROM best b""") { (s, d) =>
      import graft.operators.Dedup
      Dedup.semanticDedup(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", k = 8, eps = 0.43)
    },

    // -- CDC changelog apply (MERGE/upsert compaction): both engines
    //    synthesize the same I/U/D changelog from orders — including a
    //    stale lower-seq update that must lose and a delete of rows that
    //    also carry no other change — and the oracle replays
    //    latest-per-key + full-outer apply in plain SQL.
    dfQ("q170_cdc_apply", """
      WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      ch AS (
        SELECT o_orderkey, 'D' AS op, 2::BIGINT AS seq,
               o_orderstatus, o_totalprice
          FROM base WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 'U', 1, 'X', o_totalprice + 1
          FROM base WHERE o_orderkey % 7 = 1
        UNION ALL
        SELECT o_orderkey, 'U', 2, 'U', o_totalprice + 100
          FROM base WHERE o_orderkey % 7 = 1
        UNION ALL
        SELECT o_orderkey + 100000000, 'I', 2, 'N', o_totalprice
          FROM base WHERE o_orderkey % 7 = 2),
      latest AS (
        SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM (
          SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey
            ORDER BY seq DESC) AS rn FROM ch) WHERE rn = 1)
      SELECT coalesce(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        CASE WHEN l.op IS NOT NULL THEN l.o_orderstatus
             ELSE b.o_orderstatus END AS o_orderstatus,
        CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
             ELSE b.o_totalprice END AS o_totalprice
      FROM base b FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey
      WHERE l.op IS NULL OR l.op <> 'D'""") { (s, d) =>
      import graft.operators.Cdc
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val m7 = pmod(col("o_orderkey"), lit(7))
      val changes = base.filter(m7 === 0)
        .select(col("o_orderkey"), lit("D").as("op"), lit(2L).as("seq"),
          col("o_orderstatus"), col("o_totalprice"))
        .unionByName(base.filter(m7 === 1)
          .select(col("o_orderkey"), lit("U").as("op"), lit(1L).as("seq"),
            lit("X").as("o_orderstatus"),
            (col("o_totalprice") + 1).as("o_totalprice")))
        .unionByName(base.filter(m7 === 1)
          .select(col("o_orderkey"), lit("U").as("op"), lit(2L).as("seq"),
            lit("U").as("o_orderstatus"),
            (col("o_totalprice") + 100).as("o_totalprice")))
        .unionByName(base.filter(m7 === 2)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("I").as("op"), lit(2L).as("seq"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
      Cdc.applyCdc(base, changes, Seq("o_orderkey"), "seq", "op")
    },

    // -- BPE merge training: the oracle unrolls the same N sequential
    //    merge rounds as chained CTEs — pair counts from the word dict,
    //    deterministic argmax (cnt DESC, l, r), greedy fold application
    //    via list_reduce — so every learned merge and its count is
    //    hash-checked, not just the first round.
    dfQ("q171_bpe_train", duckBpeOracle(8)) { (s, d) =>
      TextAnalysis.bpeTrain(Tables.load(s, d, "documents"), "text", 8)
    },

    // -- Mergeable HLL sketch rollup: per-nation Datasketches HLL
    //    sketches union to region totals WITHOUT rescanning rows — the
    //    re-aggregatable-sketch pattern that makes 100 TB rollup cubes
    //    cheap. Each customer belongs to one nation, so the exact region
    //    NDV is the sum of exact nation NDVs; the oracle checks the exact
    //    column and the engine asserts the sketch estimate lands within
    //    tolerance (lgK=14 => ~0.8% rel. error; 5% bound).
    dfQ("q172_hll_rollup", """
      SELECT n_regionkey AS region,
             count(DISTINCT c_custkey) AS ndv_exact,
             TRUE AS within_tol
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1""") { (s, d) =>
      val c = Tables.load(s, d, "customer")
      val n = Tables.load(s, d, "nation")
      val perNation = c
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").as("region"), col("c_nationkey"))
        .agg(expr("hll_sketch_agg(c_custkey, 14)").as("sk"),
          countDistinct(col("c_custkey")).as("ndv"))
      perNation.groupBy("region")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          sum(col("ndv")).as("ndv_exact"))
        .select(col("region"), col("ndv_exact"),
          (abs(col("est") - col("ndv_exact")) <=
            col("ndv_exact") * lit(0.05)).as("within_tol"))
    },

    // -- PageRank (power method) on the symmetrized customer—supplier
    //    purchase graph: the oracle unrolls the same 3 rounds as chained
    //    CTEs with identical rounded-decimal mass sums, so every node's
    //    rank is hash-checked through the full iteration history.
    dfQ("q173_pagerank", duckPageRankOracle(3)) { (s, d) =>
      import graft.operators.Graph
      // r16: ONE-pass edge build. The raw (cust, supp) pairs explode
      // into both directions and dedup INSIDE pageRank's single
      // src-keyed exchange (repartition(src) then dropDuplicates — the
      // dedup agg rides the partitioning, no extra shuffle). The
      // previous union-of-two-selects over a pre-distincted half paid
      // the orders⋈lineitem join plus a full distinct exchange BEFORE
      // pageRank's own repartition, with the join subtree duplicated
      // across the union branches. Result identical: the distinct edge
      // set is the same symmetrized pair set either way.
      val pairs = Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("c"),
          concat(lit("s"), col("l_suppkey")).as("s"))
      val edges = pairs.select(explode(array(
          struct(col("c").as("src"), col("s").as("dst")),
          struct(col("s").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // symmetrization still makes every node a source (hint-only,
      // identical result); edge dedup is now deliberately pageRank's
      Graph.pageRank(edges, "src", "dst", iters = 3,
        assumeAllNodesAreSources = true)
    },

    // -- Interval-overlap join: bucketized equi-join + residual filter
    //    (no BroadcastNestedLoopJoin — AsOfRangeJoinSpec asserts the
    //    plan); the oracle is the plain theta join over the same
    //    synthesized interval sets.
    dfQ("q174_interval_overlap", """
      WITH l AS (
        SELECT o_orderkey AS lid, o_orderkey % 10000 AS ls,
               o_orderkey % 10000 + 3 + o_orderkey % 9 AS le
        FROM orders WHERE o_orderkey % 97 = 0),
      r AS (
        SELECT o_orderkey AS rid, o_orderkey % 10000 AS rs,
               o_orderkey % 10000 + 3 + o_orderkey % 11 AS re
        FROM orders WHERE o_orderkey % 89 = 0)
      SELECT lid, ls, le, rid, rs, re
      FROM l JOIN r ON ls < re AND rs < le""") { (s, d) =>
      import graft.operators.RangeJoin
      val o = Tables.load(s, d, "orders")
      val base = pmod(col("o_orderkey"), lit(10000))
      val l = o.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey").as("lid"), base.as("ls"),
          (base + 3 + pmod(col("o_orderkey"), lit(9))).as("le"))
      val r = o.filter(pmod(col("o_orderkey"), lit(89)) === 0)
        .select(col("o_orderkey").as("rid"), base.as("rs"),
          (base + 3 + pmod(col("o_orderkey"), lit(11))).as("re"))
      RangeJoin.intervalOverlap(l, "ls", "le", r, "rs", "re",
        "lid", "rid", bucketWidth = 8)
        .select("lid", "ls", "le", "rid", "rs", "re")
    },

    // -- PIVOT (conditional-aggregation rotation) with the repo-wide
    //    exact-decimal sum contract per output cell
    dfQ("q175_pivot", """
      SELECT l_linestatus,
        cast(sum(CASE WHEN l_returnflag = 'A'
          THEN cast(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
        cast(sum(CASE WHEN l_returnflag = 'N'
          THEN cast(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
        cast(sum(CASE WHEN l_returnflag = 'R'
          THEN cast(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
      FROM lineitem GROUP BY 1""") { (s, d) =>
      Tables.load(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
    },

    // -- Hashing-trick TF vectorization: stateless md5-bucket features,
    //    oracle recomputes every non-zero (doc, bucket, tf) cell with
    //    DuckDB's own md5 — the dense assembly is exercised by exploding
    //    the engine's vector back to sparse form
    dfQ("q176_hashing_tf", s"""
      SELECT doc_id,
        ('0x' || substr(md5('tf1:' || w), 1, 15))::BIGINT % 64 AS bucket,
        count(*) AS tf
      FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS w FROM documents)
      GROUP BY 1, 2""") { (s, d) =>
      TextAnalysis.hashingTf(Tables.load(s, d, "documents"),
        "doc_id", "text", dim = 64, seed = "tf1")
        .select(col("doc_id"), posexplode(col("tf_vec")))
        .filter(col("col") > 0)
        .select(col("doc_id"), col("pos").cast("long").as("bucket"),
          col("col").as("tf"))
    },

    // -- Hashed-TF cosine similarity pairs (vectorize → similarity
    //    composition without a trained embedding): every sum is an
    //    INTEGER (tf counts), so dot and norms are bit-identical across
    //    engines and the threshold compare carries zero float risk; the
    //    planted +1000000 copies must surface as the top pairs
    dfQ("q177_tf_cosine_pairs", s"""
      WITH d AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
        UNION ALL
        SELECT doc_id + 1000000, text || ' graft extra near dup token'
        FROM documents WHERE doc_id % 25 = 0),
      cells AS (
        SELECT doc_id,
          ('0x' || substr(md5('nd1:' || w), 1, 15))::BIGINT % 64 AS b,
          count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest($DUCK_TOKENS) AS w FROM d)
        GROUP BY 1, 2),
      n2 AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM cells
             GROUP BY 1),
      dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(a.tf * b.tf)::BIGINT AS dp
        FROM cells a JOIN cells b ON a.b = b.b AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        round(dp / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cos6
      FROM dots
      JOIN n2 na ON na.doc_id = id_a
      JOIN n2 nb ON nb.doc_id = id_b
      WHERE dp / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) >= 0.5""") {
      (s, d) =>
      import graft.operators.Vectors
      val docs = Tables.load(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(25)) === 0)
      val planted = docs.select(col("doc_id"), col("text"))
        .union(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graft extra near dup token")).as("text")))
      val tf = TextAnalysis.hashingTf(planted, "doc_id", "text",
        dim = 64, seed = "nd1")
        .withColumn("n2", Vectors.dot(col("tf_vec"), col("tf_vec")))
        .filter(col("n2") > 0)
      val a = tf.select(col("doc_id").as("id_a"),
        col("tf_vec").as("va"), col("n2").as("na"))
      val b = tf.select(col("doc_id").as("id_b"),
        col("tf_vec").as("vb"), col("n2").as("nb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos",
          Vectors.dot(col("va"), col("vb")) /
            (sqrt(col("na")) * sqrt(col("nb"))))
        .filter(col("cos") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos6"))
    },

    // -- Accent folding: native NFD+strip-marks expression vs DuckDB's
    //    ICU strip_accents over planted accents + real document text
    //    (both engines read the same bytes; non-decomposable ß/ø must
    //    pass through, combining-mark scripts like й→и must fold)
    dfQ("q178_fold_accents", """
      SELECT doc_id,
        strip_accents('café Zürich señor naïve crème brûlée ÀÉÎÕÜ ß ø й '
          || text) AS folded
      FROM documents WHERE doc_id % 10 = 0""") { (s, d) =>
      Tables.load(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"),
          TextOps.foldAccents(concat(
            lit("café Zürich señor naïve crème brûlée ÀÉÎÕÜ ß ø й "),
            col("text"))).as("folded"))
    },

    // -- Ordered funnel (view → click → purchase, each stage strictly
    //    after the previous stage's earliest completion): one user-keyed
    //    join + min-agg per stage, no per-user event-stream window; the
    //    oracle replays the identical stage chain
    dfQ("q179_funnel", """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      s1 AS (
        SELECT user_id, min(ts::TIMESTAMP) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s1.t1
        GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > s2.t2
        GROUP BY 1)
      SELECT u.user_id,
        CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
      FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
             LEFT JOIN s2 ON u.user_id = s2.user_id
             LEFT JOIN s3 ON u.user_id = s3.user_id""") { (s, d) =>
      import graft.operators.Funnel
      Funnel.stageReached(Tables.load(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    },

    // -- Conjunctive term search (retrieval side of the inverted index):
    //    docs containing EVERY query term
    dfQ("q180_search_and", s"""
      SELECT doc_id FROM (
        SELECT doc_id, unnest(list_distinct($DUCK_TOKENS)) AS term
        FROM documents)
      WHERE term IN ('batch', 'customer', 'hash')
      GROUP BY doc_id HAVING count(*) = 3""") { (s, d) =>
      TextAnalysis.searchAllTerms(Tables.load(s, d, "documents"),
        "doc_id", "text", Seq("batch", "customer", "hash"))
    },

    // -- Order-independent table fingerprint: commutative 40-bit md5-key
    //    sum — identical under any partitioning/order; the cheap
    //    equality check between two pipeline outputs
    dfQ("q181_fingerprint", """
      SELECT count(*) AS n_rows, sum(k)::HUGEINT::VARCHAR AS fp FROM (
        SELECT ('0x' || substr(md5(concat_ws('|', l_orderkey, l_partkey,
          l_suppkey, l_returnflag)), 1, 15))::BIGINT % 1099511627776 AS k
        FROM lineitem)""") { (s, d) =>
      import graft.operators.Diff
      Diff.tableFingerprint(Tables.load(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"))
    },

    // -- Fuzzy (levenshtein) join via prefix/suffix blocking: planted
    //    one-char corruptions of supplier names must pair with their
    //    originals; the oracle replays the same block + verify
    dfQ("q182_fuzzy_join", """
      WITH corrupt AS (
        SELECT s_suppkey + 1000000 AS c_id,
               substr(s_name, 1, 3) || 'x' || substr(s_name, 5) AS c_name
        FROM supplier WHERE s_suppkey % 3 = 0),
      lb AS (
        SELECT s_suppkey AS l_id, s_name AS l_v,
               unnest(['p:' || substr(s_name, 1, 4),
                       's:' || right(s_name, 4)]) AS bk
        FROM supplier),
      rb AS (
        SELECT c_id AS r_id, c_name AS r_v,
               unnest(['p:' || substr(c_name, 1, 4),
                       's:' || right(c_name, 4)]) AS bk
        FROM corrupt),
      cand AS (
        SELECT DISTINCT l_id, l_v, r_id, r_v FROM lb JOIN rb USING (bk))
      SELECT l_id, r_id, levenshtein(l_v, r_v) AS dist
      FROM cand WHERE levenshtein(l_v, r_v) <= 1""") { (s, d) =>
      import graft.operators.Joins
      val sup = Tables.load(s, d, "supplier")
      val corrupt = sup.filter(pmod(col("s_suppkey"), lit(3)) === 0)
        .select((col("s_suppkey") + 1000000L).as("c_id"),
          concat(substring(col("s_name"), 1, 3), lit("x"),
            expr("substr(s_name, 5)")).as("c_name"))
      Joins.fuzzyJoin(sup, "s_suppkey", "s_name",
        corrupt, "c_id", "c_name", maxDist = 1)
        .select(col("l_id"), col("r_id"), col("dist"))
    },

    // -- Deterministic train/val/test split: md5-bucket cutoffs, stable
    //    under re-runs and appends; the oracle replays the cutoff CASE
    dfQ("q183_assign_splits", """
      SELECT doc_id,
        CASE WHEN b < 800000 THEN 'train'
             WHEN b < 900000 THEN 'val'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
          ('0x' || substr(md5('sp1:' || doc_id::VARCHAR), 1, 15))::BIGINT
            % 1000000 AS b
        FROM documents)""") { (s, d) =>
      Sampling.assignSplits(Tables.load(s, d, "documents"),
        "doc_id", seed = "sp1",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    })

  /** DuckDB replay of `Graph.pageRank`: N unrolled power-method rounds
    * over the symmetrized customer—supplier edge list. Contributions are
    * rounded-then-decimal-summed (the float-determinism contract), pr
    * re-rounded to 9 per round — identical arithmetic to the engine. */
  private def duckPageRankOracle(iters: Int): String = {
    val rounds = (0 until iters).map { i =>
      s"""c$i AS (
        SELECT e.dst, sum(round(p.pr / od.outdeg, 12)::DECIMAL(28,12)) AS mass
        FROM e JOIN pr$i p ON e.src = p.node JOIN od ON e.src = od.src
        GROUP BY 1),
      pr${i + 1} AS (
        SELECT n.node,
               round(0.15 + 0.85 * coalesce(c.mass::DOUBLE, 0.0), 9) AS pr
        FROM n LEFT JOIN c$i c ON n.node = c.dst)"""
    }.mkString(",\n")
    s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      pr0 AS (SELECT node, 1.0::DOUBLE AS pr FROM n),
      $rounds
      SELECT node, pr FROM pr$iters"""
  }

  /** DuckDB replay of `TextAnalysis.bpeTrain`: N unrolled merge rounds.
    * Each round i reads word dict w{i}, counts adjacent symbol pairs
    * weighted by word frequency, picks the (cnt DESC, l, r) argmax m{i},
    * and applies it with the identical greedy string-accumulator fold. */
  private def duckBpeOracle(merges: Int): String = {
    val rounds = (0 until merges).map { i =>
      s"""p$i AS (
        SELECT t[j] AS l, t[j+1] AS r, sum(cnt)::BIGINT AS c FROM (
          SELECT string_split(sym, ' ') AS t, cnt,
                 unnest(range(1, len(string_split(sym, ' ')))) AS j
          FROM w$i) GROUP BY 1, 2),
      m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
      w${i + 1} AS (
        SELECT list_reduce(string_split(sym, ' '),
          (acc, x) -> CASE
            WHEN (acc = m.l OR ends_with(acc, ' ' || m.l)) AND x = m.r
            THEN acc || x ELSE acc || ' ' || x END) AS sym, cnt
        FROM w$i, m$i m)"""
    }.mkString(",\n")
    val union = (0 until merges)
      .map(i => s"""SELECT ${i + 1} AS step, l AS "left", r AS "right",
        c AS cnt FROM m$i""")
      .mkString("\nUNION ALL\n")
    s"""
      WITH words AS (
        SELECT unnest($DUCK_TOKENS) AS w FROM documents),
      w0 AS (
        SELECT array_to_string(string_split(w, ''), ' ') AS sym,
               count(*)::BIGINT AS cnt
        FROM words GROUP BY 1),
      $rounds
      $union"""
  }
}
