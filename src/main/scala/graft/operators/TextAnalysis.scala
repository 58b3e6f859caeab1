package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.WorkingSet.{pin, release, using}

/** Text analysis for training-data curation: language ID, quality
  * scoring, token counting, document fingerprinting. All per-row column
  * expressions — embarrassingly parallel, no shuffle, codegen'd.
  *
  * Reference seed: Hive's sentences/ngrams text ops
  * (ql/exec/FunctionRegistry.java:419, :385-386).
  */
object TextAnalysis {

  /** Both token counts in one native pass (graft.functions.TokenCounts);
    * the two public entry points read fields of the same CSE-able call. */
  private def tokenCounts(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.TokenCounts(toExpr(c)))
  }

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = tokenCounts(c).getField("n_ws")

  /** BPE-ish token count: letter runs, digit runs, and single punctuation
    * marks counted separately (approximates subword tokenizer cost). */
  def tokenCountBpe(c: Column): Column = tokenCounts(c).getField("n_bpe")

  // Small per-language stopword profiles (public common function words).
  private val stops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"))

  private val profileLangs = Seq("en", "de", "fr", "es")

  /** All raw per-row text statistics in one native pass — see
    * graft.functions.TextProfile (the HOF compositions this replaces are
    * interpreted per token, and their lambda ExprIds defeat
    * common-subexpression elimination). The two instances built by
    * qualityMetrics and langId over the same column ARE CSE-merged
    * (no lambdas → structurally equal). */
  private def textProfile(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.TextProfile(toExpr(c), profileLangs.map(stops)))
  }

  /** Heuristic language ID: CJK-codepoint presence short-circuits to zh;
    * otherwise argmax of stopword-profile hits, 'und' when nothing hits. */
  def langId(c: Column): Column = {
    val p = textProfile(c)
    val scores = profileLangs.zipWithIndex.map { case (l, i) =>
      (l, p.getField("hits").getItem(i))
    }
    val best = scores.tail.foldLeft(
      struct(lit(scores.head._1).as("lang"), scores.head._2.as("n"))) {
      case (acc, (l, n)) =>
        when(n > acc.getField("n"), struct(lit(l).as("lang"), n.as("n")))
          .otherwise(acc)
    }
    when(p.getField("has_cjk"), lit("zh"))
      .when(best.getField("n") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Quality metrics struct: char/token counts, mean token length,
    * punctuation/digit/uppercase/stopword ratios, and a [0,1] composite
    * score (length-normalized, penalizing punct/digit-heavy text). */
  def qualityMetrics(c: Column): Column = {
    val p = textProfile(c)
    val nChars = p.getField("n_chars").cast("double")
    val nToks = p.getField("n_tokens").cast("double")
    val meanTokLen = when(nToks > 0,
      p.getField("sum_tok_len").cast("double") / nToks).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      p.getField("n_punct").cast("double") / nChars).otherwise(lit(0.0))
    val digitRatio = when(nChars > 0,
      p.getField("n_digit").cast("double") / nChars).otherwise(lit(0.0))
    val upperRatio = when(nChars > 0,
      p.getField("n_upper").cast("double") / nChars).otherwise(lit(0.0))
    val enStopRatio = when(nToks > 0,
      p.getField("hits").getItem(0).cast("double") / nToks).otherwise(lit(0.0))
    val lengthScore = least(nToks / 100.0, lit(1.0))
    val score = greatest(lit(0.0), least(lit(1.0),
      lengthScore * (lit(1.0) - punctRatio * 2) * (lit(1.0) - digitRatio)
        * when(meanTokLen.between(2.5, 12), 1.0).otherwise(0.5)))
    struct(
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      meanTokLen.as("mean_token_len"),
      punctRatio.as("punct_ratio"),
      digitRatio.as("digit_ratio"),
      upperRatio.as("upper_ratio"),
      enStopRatio.as("en_stopword_ratio"),
      score.as("quality_score"))
  }

  /** Hive context_ngrams semantics (GenericUDAFContextNGrams, ref
    * ql/exec/FunctionRegistry.java:386): `context` fixes some n-gram
    * positions, None marks wildcards; returns the top-k wildcard fillers
    * by corpus frequency. Re-expressed Spark-first as explode + position
    * filter + distributed count (exact, vs the reference's single-reducer
    * estimator). */
  def contextNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      context: Seq[Option[String]], k: Int): org.apache.spark.sql.DataFrame = {
    val n = context.length
    val grams = df.select(explode(
      TextOps.shingleSet(col(textCol), n, distinct = false)).as("ngram"))
      .withColumn("w", split(col("ngram"), " "))
    val fixed = context.zipWithIndex.collect {
      case (Some(word), i) => col("w").getItem(i) === word
    }
    val matched = fixed.foldLeft(grams)((d, cond) => d.filter(cond))
    val wildcardIdx = context.zipWithIndex.collect { case (None, i) => i }
    matched
      .select(concat_ws(" ",
        wildcardIdx.map(i => col("w").getItem(i)): _*).as("filler"))
      .groupBy("filler").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("filler"))
      .limit(k)
  }

  /** Top-k TF-IDF terms per document. Distributed shape: one explode pass
    * builds term frequencies; document frequencies aggregate over the
    * (term, doc) pairs — the DF table is vocabulary-sized, so Catalyst
    * broadcasts it back onto the TF side (at 100 TB the vocabulary is
    * still ~millions of rows ⇒ broadcast or one small shuffle); top-k is
    * a per-doc window (TopNHash shape). idf = ln((N+1)/(df+1)) + 1. */
  def tfIdfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("term"))
    // tf is the table both branches need (its groups ARE the distinct
    // (doc, term) pairs, so df-counting needs no second explode over the
    // corpus); pin it once — exchange reuse does not fire across the
    // join's probe/broadcast branches, so without this the
    // explode+shuffle would run twice. A pin beats a scoped persist here
    // (the cache path runs the tf aggregate without AQE —
    // canChangeCachedPlanOutputPartitioning default — and pays columnar
    // encode/decode; the pin was ~1.4× faster at sf0.1), and it backs
    // the returned frame.
    val tf = pin(toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // the corpus-size scalar rides the final job as a one-row broadcast
    // instead of an eager df.count() — one driver-blocking action (the
    // pin) per call instead of two, and one fewer full scan of the input
    // standing alone.
    val nRow = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nRow))
      .withColumn("score", round(
        col("tf") * (log((col("__n") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rn"))
  }

  /** Inverted index over a text corpus: term → exact document frequency +
    * a capped, sorted posting list (the k smallest doc ids). One explode +
    * one distinct shuffle on fixed-width (term, doc) pairs; the posting
    * cap uses the bounded `min_k` native aggregate
    * (graft.functions.MinKAgg), so a stop-word term with a billion
    * documents holds k entries of aggregation state, not a billion —
    * `slice(sort_array(collect_list(..)))` would buffer the whole list
    * per term and OOM on hot keys at corpus scale. */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxPostings: Int,
      minDocFreq: Long = 1L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    // ids must be integral: a silent cast of string ids to long would
    // collapse every row into one NULL phantom doc (df=1, empty postings)
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"invertedIndex: $idCol must be integral (postings are min_k " +
          s"longs), got ${other.catalogString}")
    }
    // NULL ids would inflate df (+1 per term they contain) while min_k
    // skips them in postings — exclude them so df == |postings| ∀ df ≤ k
    val pairs = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__doc"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .distinct()
    val minK = toCol(graft.functions.MinKAgg(toExpr(col("__doc")), maxPostings)
      .toAggregateExpression())
    pairs.groupBy("term")
      .agg(count(lit(1)).as("df"), minK.as("postings"))
      .filter(col("df") >= minDocFreq)
  }

  /** Bigram collocations by pointwise mutual information:
    * pmi = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) = c_ab/M over bigram
    * occurrences and p(a) = c_a/N over unigram occurrences. All counts
    * are exact distributed aggregations, materialized once (the count
    * tables are vocabulary-/bigram-sized); after the two count shuffles
    * everything is broadcast joins — the unigram table onto the bigram
    * side, the corpus totals as a 1-row broadcast. Output: a, b, n
    * (bigram count), pmi (round 6, computed in one double expression for
    * cross-engine determinism). */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long): org.apache.spark.sql.DataFrame = {
    val toks = df.select(TextOps.tokens(col(textCol)).as("t"))
    // both count tables feed the totals aggregation AND the joins below;
    // pin them once (they are vocabulary-/bigram-sized, tiny next to the
    // corpus) so the tokenize+explode+shuffle doesn't run twice — same
    // shape as tfIdfTopK's tf; both back the returned frame
    val uni = pin(toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    val bi = pin(toks.select(explode(TextOps.wordNgrams(col("t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n"))
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .withColumn("b", split(col("bg"), " ").getItem(1)))
    val totals = uni.agg(sum("c").as("nn"))
      .crossJoin(bi.agg(sum("n").as("m")))
    bi.filter(col("n") >= minCount)
      .join(broadcast(uni.withColumnRenamed("w", "a").withColumnRenamed("c", "ca")), "a")
      .join(broadcast(uni.withColumnRenamed("w", "b").withColumnRenamed("c", "cb")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n"),
        // every factor cast to double BEFORE multiplying: long×long×long
        // can overflow (and DuckDB would widen differently); the double
        // op sequence then matches the oracle bit-for-bit pre-round
        round(log(col("n").cast("double") * col("nn").cast("double") *
            col("nn").cast("double") /
          (col("m").cast("double") * col("ca").cast("double") *
            col("cb").cast("double"))), 6).as("pmi"))
  }

  /** Within-document n-gram repetition ratio — the C4/Gopher-style
    * boilerplate signal: fraction of word n-grams that repeat an earlier
    * occurrence (0 = all distinct, →1 = highly repetitive). ShingleSet is
    * a lambda-free native expression, so the two instances CSE-merge. */
  def repetitionRatio(c: Column, n: Int = 3): Column = {
    val all = TextOps.shingleSet(c, n, distinct = false)
    when(size(all) > 0,
      lit(1.0) - size(array_distinct(all)).cast("double") / size(all))
      .otherwise(lit(0.0))
  }

  /** 64-bit content fingerprint: xxhash64 of whitespace-normalized,
    * lowercased text — equal fingerprints ⇔ near-certain exact dup
    * modulo whitespace/case. */
  def fingerprint(c: Column): Column =
    xxhash64(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Winnowing-style robust fingerprint: minimum rolling hash over
    * character 8-grams — stable under small local edits; equal values
    * are a strong near-dup signal. */
  def robustFingerprint(c: Column, gram: Int = 8): Column =
    array_min(transform(
      TextOps.charShingles(regexp_replace(lower(c), "\\s+", " "), gram),
      s => xxhash64(s)))

  /** Per-document average negative log-likelihood under a bigram LM
    * trained on the corpus itself (add-k smoothing over the corpus
    * vocabulary) — the CCNet/KenLM-style fluency signal: high avg NLL
    * flags gibberish, low flags boilerplate-like repetition. Documents
    * with < 2 tokens have no bigrams and are excluded.
    *
    * Scale shape: the corpus is tokenized exactly TWICE (the regex
    * tokenize dominates this operator's cost, so corpus passes are the
    * budget). Pass one emits every token occurrence as (w1,
    * next-token-or-NULL) and aggregates to a distinct-(w1, w2) count
    * table — which yields the pair counts (non-NULL w2 rows), the
    * context counts (a rollup over w2), AND the vocabulary (distinct w1
    * = every distinct token) without re-reading the corpus. Those fold
    * into a distinct-bigram log-prob table that pass two joins back on
    * (w1, w2) — one occurrence-stream shuffle total (AQE handles the
    * stop-word-pair skew). Per-bigram log-probs are rounded to 12
    * decimals and summed as exact decimals, so the score is
    * merge-order-independent. Output: idCol, n_bigrams, avg_nll. */
  def bigramNll(
      df: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 0.5): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // every token occurrence, paired with its successor (NULL at the
    // doc's last token — the guard also keeps ANSI element_at in bounds)
    def stream: DataFrame = df
      .select(col(idCol), TextOps.explodeOnce(toks)(t =>
        transform(TextOps.upTo(lit(1), size(t)),
          i => struct(element_at(t, i).as("w1"),
            when(i < size(t), element_at(t, i + 1)).as("w2"))))
        .as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // small (distinct bigrams + per-token end-of-doc sentinels), three
    // consumers — a working set, released after the result is pinned.
    // A single-tokenize-pass variant (aggregate per-(doc, bigram)
    // multiplicities first, score distinct bigrams per doc) measured
    // 1.5-2× slower at sf0.1: the (doc,w1,w2) shuffle + persist costs
    // more than the second tokenize pass it saves, and AQE already turns
    // the occurrence-level scoring join into a broadcast. The two-pass
    // shape stands.
    val counts = stream.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val vocab = counts.agg(countDistinct("w1").as("v"))
    val ctx = counts.filter(col("w2").isNotNull)
      .groupBy("w1").agg(sum("c").as("ctx"))
    val lp = counts.filter(col("w2").isNotNull)
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("c").cast("double") + lit(addK)) /
            (col("ctx").cast("double") + lit(addK) * col("v").cast("double"))),
          12).cast("decimal(28,12)").as("lp"))
    val out = stream.filter(col("w2").isNotNull)
      .join(lp, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(-(sum("lp").cast("double")) / count(lit(1)), 6).as("avg_nll"))
    using(counts)(pin(out))
  }

  /** Byte-pair-encoding merge training (Sennrich et al. 2016) on the
    * corpus's word-frequency dictionary. Returns one row per learned
    * merge: (step, left, right, cnt), tie-broken (cnt DESC, left, right)
    * so training is fully deterministic.
    *
    * Scale shape (the fastBPE/Hugging-Face design): the ONLY corpus-scale
    * work is the initial word-count aggregation (map-side combinable);
    * every merge iteration then runs on the bounded vocabulary table.
    * Merges are inherently sequential — each changes the next iteration's
    * pair counts — so the loop drives from the coordinator, collecting
    * exactly ONE row (the argmax pair) per step; each round is pinned
    * and the previous round's blocks are released.
    *
    * Merge application is classic greedy left-to-right: expressed as a
    * string-accumulator fold, where an accumulator ending in the left
    * symbol absorbs a right-symbol token with no separator (tokens never
    * contain spaces, so `acc = l` / `acc ends-with " l"` is an exact
    * last-token test). */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    // the ONLY corpus-scale pass: pinned so no round can ever
    // re-tokenize the corpus
    var words = pin(df
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat_ws(" ", split(col("w"), "")).as("sym"), col("cnt")))
    // each round's folded dictionary is a LAZY pin: the next round's
    // argmax aggregate is the action that materializes it, so every
    // merge round costs exactly ONE driver-blocking job instead of two
    // (checkpoint + argmax). The previous round is released only after
    // that argmax has landed the new one. A materialized round never
    // replays the merge chain: its lineage is cut at that job, and its
    // memory-and-disk blocks spill to disk under memory pressure
    // instead of being dropped.
    var pending: DataFrame = null
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = words
        .select(col("cnt"), TextOps.explodeOnce(split(col("sym"), " "))(t =>
          transform(TextOps.upTo(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("l"),
              element_at(t, i + 1).as("r"))))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      // the argmax above materialized `words` — the round before it
      // can go now
      if (pending != null) { release(pending); pending = null }
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        learned += ((step, l, r, c))
        pending = words
        words = pin(words.select(mergeFold(col("sym"), l, r).as("sym"),
          col("cnt")), eager = false)
        step += 1
      }
    }
    release(words)
    if (pending != null) release(pending)
    learned.toSeq.toDF("step", "left", "right", "cnt")
  }

  /** Conjunctive (AND) term search: documents containing EVERY query
    * term. The tiny term set rides inside the filter expression
    * (broadcast-free), candidate rows shrink to |terms| per doc before
    * the one doc-keyed aggregate — no per-term corpus scans, no joins.
    * The retrieval-side complement of `invertedIndex`. */
  /** Per-doc Shannon entropy of the token distribution (nats) — the
    * classic gibberish/repetition signal: near-zero entropy means one
    * token dominates, log(n_types) means perfectly uniform. Returns
    * (idCol, n_tokens, n_types, entropy) with entropy rounded to 6
    * decimals: the per-term doubles carry ~1-ulp ln() jitter and the
    * term sum is order-sensitive in the last bits, so the stored value
    * is rounded the same way q55 rounds cosine. Zero-token docs are
    * absent (no distribution to measure).
    *
    * Scale shape: two map-side-combinable aggregates on the same
    * (id, word) shuffle key — counts, then the entropy fold — nothing
    * driver-side, no window. */
  def tokenEntropy(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wc = df.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("c"))
    val totals = wc.groupBy("id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
    val p = col("c").cast("double") / col("n_tokens")
    wc.join(totals, Seq("id")) // both sides already hashed on id
      .groupBy(col("id"), col("n_tokens"), col("n_types"))
      .agg(round(-sum(p * log(p)), 6).as("entropy"))
      .select(col("id").as(idCol), col("n_tokens"), col("n_types"),
        col("entropy"))
  }

  /** Per-doc out-of-vocabulary rate against the corpus's own top-
    * `vocabSize` words — the cheap tokenizer-coverage signal (a doc
    * whose tokens mostly miss the vocabulary is noise, wrong-language,
    * or will explode into byte-fallback tokens at training time).
    *
    * Scale shape: the vocabulary is a distributed top-k over the word
    * counts (TakeOrderedAndProject — per-partition heads, one k-row
    * merge, no global sort) with a deterministic (count DESC, word)
    * tie-break, then broadcasts into a per-token membership join — the
    * corpus-side token stream is never shuffled. Zero-token docs have
    * no rate and are absent from the output. */
  def oovRate(
      df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = df.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id").as(idCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  def searchAllTerms(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val t = terms.distinct
    df.select(col(idCol),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("term"))
      .filter(col("term").isin(t: _*))
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === t.size)
      .select(col(idCol))
  }

  /** Feature-hashing (hashing-trick) term-frequency vectorization:
    * token → bucket md5(seed:token) mod dim, counts per (id, bucket),
    * assembled into a dense length-`dim` count vector. No vocabulary
    * table, no fitting pass — the property that makes the hashing trick
    * the 100 TB vectorizer (stateless, single shuffle on (id), bucket
    * math inside codegen'd expressions). Docs with no tokens get the
    * zero vector. The md5-based bucket is engine-portable, so the full
    * sparse content is SQL-replayable. */
  def hashingTf(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int, seed: String): DataFrame = {
    require(dim > 0, "dim must be positive")
    val bucket = pmod(
      conv(substring(md5(concat(lit(seed + ":"), col("w"))), 1, 15),
        16, 10).cast("long"),
      lit(dim.toLong))
    val counts = df
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("w"))
      .select(col(idCol), bucket.as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("tf"))
      .groupBy(idCol)
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf"))))
        .as("m"))
    df.select(col(idCol)).distinct()
      .join(counts, Seq(idCol), "left")
      .select(col(idCol),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("tf_vec"))
  }

  /** One greedy left-to-right merge pass of pair (l, r) over a
    * space-joined symbol string, as a string-accumulator fold. `sym`
    * occurs once, so `bpeEncode`'s chain of folds splits each word once
    * per merge rather than 3^merges times. */
  private def mergeFold(sym: Column, l: String, r: String): Column =
    aggregate(split(sym, " "), lit(null).cast("string"), (acc, x) =>
      when(acc.isNull, x)
        .when((acc === lit(l) || acc.endsWith(lit(" " + l))) && x === lit(r),
          concat(acc, x))
        .otherwise(concat(acc, lit(" "), x)))

  /** Tokenize text with a learned merge list: the same greedy fold per
    * word, applied in merge order — the inference side of `bpeTrain`.
    * Merges never cross word boundaries (matching training). Returns the
    * flattened subword array. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(TextOps.tokens(text), w =>
      split(merges.foldLeft(concat_ws(" ", split(w, ""))) {
        case (sym, (l, r)) => mergeFold(sym, l, r)
      }, " ")))
}
