package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.WorkingSet.{iterate, pin, using}

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (100 TB): every variant is a bounded-fan-out
  * candidate-generation (LSH banding) + exact verification pattern.
  * Shuffles happen only on (band, key) buckets; `maxBucket` caps skewed
  * buckets (a degenerate shingle that hashes a million docs together
  * would otherwise produce a quadratic join) — the same role as Hive's
  * SkewJoinHandler (ql/exec/SkewJoinHandler.java:74), done declaratively.
  */
object Dedup {

  /** Exact dedup: keep one representative row per key (hash-groupBy).
    * One shuffle on the key columns; Catalyst plans partial aggregation. */
  def exact(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.dropDuplicates(keyCols)

  /** Deterministic exact dedup: per key group, keep the row minimal on
    * `orderCol` (NULL ordering values sort last, so a group whose rows
    * all have NULL order still keeps a real row). dropDuplicates keeps
    * an ARBITRARY row — output varies with partitioning/cluster size,
    * which a reproducible training-data pipeline can't accept. Fully
    * deterministic when `orderCol` is unique per group (an id); equal
    * ordering values fall back to merge order. Same single-shuffle
    * shape (min_by partial aggregation), no window. */
  def exactKeepMin(df: DataFrame, keyCols: Seq[String],
      orderCol: String): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    val ord = struct(col(orderCol).isNull.as("_null"), col(orderCol).as("_v"))
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(all, ord).as("_row"))
      .select(df.columns.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** Candidate pairs whose band key collides, verified by exact Jaccard
    * over word-shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard ≥ threshold.
    *
    * Pipeline: tokens → distinct shingles → minhash(k) → band keys →
    * explode → bucket self-join (capped) → distinct pairs → fetch shingle
    * sets → exact verify. Only ids travel through the candidate join;
    * shingle arrays are joined back afterwards (narrow shuffle).
    */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val idx = buildMinhashIndex(df, idCol, textCol, shingleSize, numHashes, bands)
    // the (small) verified-pair set is pinned so the index working set
    // can go as soon as it materializes — repeated calls in a long-lived
    // session must not accumulate blocks
    using(idx.shingled, idx.banded) {
      pin(minhashPipeline(idx, threshold, maxBucket))
    }
  }

  /** The lazy self-join pipeline over an index — shared by the eager
    * public wrapper and plan inspection (inside a `using` of the index). */
  private[graft] def minhashPipeline(
      idx: MinHashIndex, threshold: Double, maxBucket: Int): DataFrame =
    verifyPairs(candidatePairs(idx.banded, maxBucket), idx.shingled,
      idx.shingled, threshold, "id_a", "id_b")

  /** A reusable MinHash-LSH index: per-doc shingle sets (for exact
    * verification) + exploded band keys (for candidate generation), with
    * the sketch parameters pinned so every probe uses the same hash
    * family. Both frames are ordinary DataFrames — write them to parquet
    * (partition `banded` by `band`) and read them back to make the index
    * durable across batches (construct the case class directly from the
    * read frames). */
  final case class MinHashIndex(
      shingled: DataFrame,
      banded: DataFrame,
      shingleSize: Int,
      numHashes: Int,
      bands: Int)

  /** Sketch a corpus into a MinHashIndex (lazy frames). The shingle set
    * feeds signature generation AND the verification join(s), the band
    * keys feed the bucket-size guard AND the candidate join, so an
    * in-memory index is a working set: probe it inside
    * `WorkingSet.using(index.shingled, index.banded)` (the *NearDups
    * wrappers do), or write the frames to parquet for a durable index
    * that incremental batches probe without ever touching the corpus
    * text again. */
  def buildMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): MinHashIndex = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val shingled = df
      .select(col(idCol).as("id"),
        TextOps.explodeOnceIf(TextOps.shingleSet(col(textCol), shingleSize))(
          s => size(s) > 0).as("shingles"))
    val banded = shingled.select(col("id"),
        posexplode(TextOps.bandHashes(
          TextOps.minhashSignature(col("shingles"), numHashes), bands)))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))
    MinHashIndex(shingled, banded, shingleSize, numHashes, bands)
  }

  /** Incremental near-dup detection: sketch ONLY the new batch and probe
    * the stored index — the operational shape when data arrives daily and
    * the corpus is too large to re-pair. Returns (new_id, index_id,
    * jaccard ≥ threshold).
    *
    * Scale shape: the join is new-batch bands × index bands on
    * (band, key) — fan-out per new doc is bounded by capping INDEX bucket
    * sizes at `maxBucket` (degenerate buckets are dropped exactly as in
    * the batch variant); only ids cross the shuffle, and exact verification
    * joins the two shingle stores afterwards. Index-side bucket sizes are
    * recomputed here; pre-aggregate and store them alongside a durable
    * index to skip that scan per batch. The (small) result is pinned and
    * the probe's sketch working set released before returning; the
    * INDEX working set is the caller's to scope. */
  def minhashAgainstIndex(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      index: MinHashIndex,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val probe = buildMinhashIndex(newDf, idCol, textCol,
      index.shingleSize, index.numHashes, index.bands)
    val okBuckets = index.banded.groupBy("band", "key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select("band", "key")
    val candidates = probe.banded
      .select(col("band"), col("key"), col("id").as("new_id"))
      .join(index.banded.join(okBuckets, Seq("band", "key"))
        .select(col("band"), col("key"), col("id").as("index_id")),
        Seq("band", "key"))
      .select("new_id", "index_id")
      .distinct()
    using(probe.shingled, probe.banded) {
      pin(verifyPairs(candidates, probe.shingled, index.shingled,
        threshold, "new_id", "index_id"))
    }
  }

  /** SimHash near-dup pairs: 64-bit fingerprint, banded into 16-bit
    * chunks (pigeonhole: ≤3 differing bits ⇒ some band matches exactly),
    * verified by Hamming distance. Returns (id_a, id_b, hamming). */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    // token-less docs (CJK-only, punctuation-only) all hash to 0 and
    // would report every such pair as a hamming-0 dup — exclude them,
    // same guard as minhashNearDups
    val hashed = df.select(
      col(idCol).as("id"),
      TextOps.explodeOnceIf(TextOps.tokens(col(textCol)))(t => size(t) > 0)
        .as("toks"))
      .select(col("id"), TextOps.simhash64(col("toks")).as("simhash"))

    val banded = hashed.select(col("id"),
      explode(Vectors.signatureBands(col("simhash"), 4, 16)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

    val pairs = candidatePairs(banded, maxBucket)
    val a = hashed.select(col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = hashed.select(col("id").as("id_b"), col("simhash").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        TextOps.hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard within blocking groups (no LSH): all pairs that
    * share a blocking key, with exact shingle-set Jaccard. Use when a
    * cheap high-selectivity blocking key exists. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 3,
      threshold: Double = 0.1): DataFrame = {
    val base = df.select(
      col(idCol).as("id"),
      struct(blockCols.map(col): _*).as("blk"),
      TextOps.explodeOnceIf(TextOps.shingleSet(col(textCol), shingleSize))(
        s => size(s) > 0).as("shingles"))
    val a = base.select(col("blk"), col("id").as("id_a"), col("shingles").as("sh_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("shingles").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding near-dup pairs: sign-LSH banding over the vector column,
    * exact cosine verification. Returns (id_a, id_b, cosine). */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      signatureBits: Int = 32,
      bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val bitsPerBand = signatureBits / bands
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = base.select(col("id"),
      explode(Vectors.signatureBands(
        Vectors.hyperplaneSignature(col("vec"), signatureBits),
        bands, bitsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

    val pairs = candidatePairs(banded, maxBucket)
    val a = base.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vec_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Distinct candidate (id_a < id_b) pairs from band-bucket collisions,
    * with oversized buckets dropped (skew guard).
    *
    * Shape note (measured at sf1, interleaved A/B): this
    * 3-shuffle size+join-back+self-join LOOKS replaceable by a single
    * collect_list-per-bucket aggregate + per-member pair explode, and a
    * stage-count profile even favors that — but end-to-end the join shape
    * is ~2x faster at steady state (8.5s vs 18.8s full-pipeline): the
    * streaming join JIT-warms while the array-building aggregate does
    * not. A first-matching-band emit that eliminates the distinct was
    * also measured and loses (carrying per-doc band-key arrays through
    * the buckets costs more than the distinct saves). Keep this shape. */
  private def candidatePairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val sized = banded.groupBy("band", "key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, maxBucket))
    val pruned = banded.join(sized, Seq("band", "key"))
      .select(col("band"), col("key"), col("id"))
    val l = pruned.select(col("band"), col("key"), col("id").as("id_a"))
    val r = pruned.select(col("band"), col("key"), col("id").as("id_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs against two shingle
    * stores (the same store twice for the self-join variants). `aName` /
    * `bName` are both the pair columns of `pairs` and the output names. */
  private def verifyPairs(
      pairs: DataFrame, shingledA: DataFrame, shingledB: DataFrame,
      threshold: Double, aName: String, bName: String): DataFrame = {
    val a = shingledA.select(col("id").as(aName), col("shingles").as("sh_a"))
    val b = shingledB.select(col("id").as(bName), col("shingles").as("sh_b"))
    pairs.join(a, aName).join(b, bName)
      .select(col(aName), col(bName),
        TextOps.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Resolve near-dup PAIRS into CLUSTERS: iterative minimum-label
    * propagation over the symmetrized edge list (component id = smallest
    * reachable node id). This is the production step after any *NearDups
    * pair generator — pairs alone don't say which docs to drop when
    * A~B and B~C but A!~C.
    *
    * Scale shape: each round is one shuffle-join of the label table with
    * the edge list + a min-aggregate; rounds needed = cluster diameter
    * (near-dup clusters are shallow — a handful of rounds). Lineage is
    * cut per round with an eager localCheckpoint so plans don't grow;
    * convergence is detected with a sum aggregate (labels only ever
    * decrease), not a per-row comparison join.
    *
    * Returns (idCol, component). Nodes absent from `pairs` keep their own
    * id as component. */
  def connectedComponents(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = fwd
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    def labelSum(labels: DataFrame) =
      labels.agg(sum(col("comp").cast("decimal(38,0)")))
        .collect().head.getDecimal(0)
    using(edges) {
      val initial = pin(nodes
        .select(col(idCol).cast("long").as("id"),
          col(idCol).cast("long").as("comp")))
      var prevSum = labelSum(initial)
      // null sum = zero rows (or every id cast to NULL): nothing can
      // propagate, so the initial label table is already the answer.
      var converged = prevSum == null
      val labels = iterate(initial, if (converged) 0 else maxIter,
        until = (_, next) => {
          val s = labelSum(next)
          converged = s == null || s.compareTo(prevSum) == 0 // labels only decrease
          prevSum = s
          converged
        }) { labels =>
        val viaNbr = edges
          .join(labels.select(col("id").as("dst"), col("comp")), "dst")
          .groupBy("src").agg(min("comp").as("ncomp"))
          .withColumnRenamed("src", "id")
        labels.join(viaNbr, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("ncomp"), col("comp")))
              .as("comp"))
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds")
      labels.withColumnRenamed("id", idCol)
        .withColumnRenamed("comp", "component")
    }
  }

  /** Keep one canonical document per near-dup cluster (the smallest id),
    * dropping the other cluster members; rows untouched by any pair pass
    * through. */
  def dedupByCluster(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val comps = connectedComponents(df, idCol, pairs, aCol, bCol)
    df.join(
      comps.filter(col(idCol) === col("component")).select(idCol),
      Seq(idCol), "left_semi")
  }

  /** Keep the BEST row per near-dup cluster — highest `scoreCol`, ties to
    * the smallest id (fully deterministic) — instead of dedupByCluster's
    * smallest-id keep. This is the production curation policy: when a
    * cluster holds a clean original and a mangled scrape, keep the one the
    * quality model scored higher. One min_by aggregate over the
    * (component, id, score) table; same single extra shuffle as the
    * canonical variant. */
  def dedupByClusterKeepBest(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      scoreCol: String): DataFrame = {
    val comps = connectedComponents(df, idCol, pairs, aCol, bCol)
    val keep = df.select(col(idCol), col(scoreCol))
      .join(comps, idCol)
      .groupBy("component")
      // min over (-score, id): highest score wins, equal scores keep the
      // smallest id — deterministic under any merge order
      .agg(min_by(col(idCol),
        struct((-col(scoreCol)).as("_ns"), col(idCol).as("_id"))).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Cross-document EXACT shared-span detection (the "train-set contains
    * verbatim copies of this paragraph" signal): document pairs sharing
    * at least one identical run of `spanTokens` tokens, with the number
    * of matching (position, position) gram pairs. Tokenization is the
    * engine-standard lowercase-alphanumeric rule.
    *
    * Scale shape: per-doc gram emission is expression work (no shuffle);
    * ONE xxhash64-bucket self-join does candidate generation and exact
    * verification together — the gram strings ride through the join and
    * the in-bucket string equality is the verify, so a 64-bit hash
    * collision (certain at 100 TB gram counts) can never fabricate a
    * pair, and the strings cross the wire once instead of three times
    * (hash-only candidates + two fetch-back joins — measured 30% slower
    * at sf1; a doc-level candidate prune measured slower still, because
    * a corpus with real duplicate mass leaves most documents candidates).
    * Degenerate grams — site-wide boilerplate appearing in more than
    * `maxBucket` positions — are dropped before the join, exactly the
    * MinHash bucket cap. */
  def sharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 16,
      maxBucket: Int = 100000): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be >= 2")
    val toks = TextOps.tokens(col(textCol))
    // The gram stream is materialized ONCE, already h-partitioned: the
    // bucket-size guard, the cap join, and both sides of the verifying
    // self-join are all keyed on h, so every consumer reads the cached
    // h-layout exchange-free (HashPartitioning(h) satisfies each one's
    // required distribution — cached plans keep their partitioning,
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    // default). The one unavoidable h-shuffle runs BEFORE the persist so
    // it is paid once into the cache instead of once per downstream plan
    // (released once the small pair set materializes).
    val gramText = df
      .select(col(idCol).as("id"),
        TextOps.explodeOnce(toks)(t =>
          transform(TextOps.upTo(lit(1), size(t) - (spanTokens - 1)),
            i => struct(i.as("pos"),
              concat_ws(" ", slice(t, i, lit(spanTokens))).as("gram"))))
          .as("pg"))
      .select(col("id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"),
        xxhash64(col("pg.gram")).as("h"))
      .repartition(col("h"))
    val ok = gramText.groupBy("h").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select("h")
    val slim = gramText.join(ok, Seq("h"))
    val verified = slim
      .select(col("h"), col("id").as("id_a"), col("pos").as("pos_a"),
        col("gram").as("g_a"))
      .join(slim.select(col("h"), col("id").as("id_b"),
        col("pos").as("pos_b"), col("gram").as("g_b")), Seq("h"))
      .filter(col("id_a") < col("id_b") && col("g_a") === col("g_b"))
    using(gramText) {
      pin(verified.groupBy("id_a", "id_b").agg(count(lit(1)).as("n_spans")))
    }
  }

  /** Asymmetric containment (quote / subset detection): for every
    * ordered pair (id_a, id_b), containment = |G_a ∩ G_b| / |G_a| where
    * G_x is doc x's DISTINCT `spanTokens`-gram set. This is the measure
    * symmetric Jaccard structurally misses: a short doc embedded
    * verbatim in a long one scores |A∩B|/|A∪B| ≈ |A|/|B| → 0 under
    * Jaccard but 1.0 under containment (Broder's "containment of A in
    * B", SEQUENCES'97).
    *
    * Scale shape: one gram-hash equi-join with exact string verify (the
    * `sharedSpans` discipline). Grams appearing in more than `maxDf`
    * docs are dropped first — a boilerplate gram would otherwise pair
    * every doc with every doc. The cap keys on the 64-bit gram hash, so
    * a collision can only drop a legit gram early (never invent a
    * pair); scores use distinct-gram counts AFTER the cap on both the
    * numerator and denominator, keeping the ratio internally
    * consistent. Returns (id_a, id_b, n_shared, containment ≥
    * `threshold`); both orders of a pair can emerge, each scored
    * against its own denominator. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      threshold: Double = 0.8,
      maxDf: Int = 1000): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be >= 2")
    val toks = TextOps.tokens(col(textCol))
    // the sharedSpans discipline: the gram stream is materialized ONCE,
    // already h-partitioned, so the df-cap aggregate, the cap join and
    // both self-join sides (all h-keyed) read the cache exchange-free.
    // The per-doc gram dedup runs AFTER the repartition: equal (id, g)
    // rows share h and so a partition, and dedup on all three columns
    // (≡ dedup on (id, g) — h is a function of g) keeps h among the
    // grouping keys so the h-partitioning satisfies the aggregate —
    // dedup costs no extra shuffle (distinct-then-hash would pay a full
    // (id, g)-string exchange).
    val grams = df
      .select(col(idCol).as("id"),
        TextOps.explodeOnce(toks)(
          TextOps.wordNgrams(_, spanTokens)).as("g"))
      .select(col("id"), col("g"), xxhash64(col("g")).as("h"))
      .repartition(col("h"))
      .dropDuplicates()
    val ok = grams.groupBy("h").agg(countDistinct(col("id")).as("gdf"))
      .filter(col("gdf") <= maxDf).select("h")
    val kept = grams.join(ok, Seq("h"))
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = kept.select(col("h"), col("id").as("id_a"), col("g").as("g_a"))
      .join(kept.select(col("h"), col("id").as("id_b"), col("g").as("g_b")),
        Seq("h"))
      .filter(col("id_a") =!= col("id_b") && col("g_a") === col("g_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    // single int/int division — bit-identical across engines
    val out = inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), "id_a")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") / col("__na")).as("containment"))
      .filter(col("containment") >= threshold)
    using(grams)(pin(out))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then inside each cluster drop every
    * document whose cosine similarity to an earlier (lower-id) cluster
    * member reaches `eps`. Pairwise work is confined to clusters, so the
    * quadratic term is (n/k)^2 per cluster — at corpus scale k grows with
    * n (the paper uses ~10^5 clusters for billions of docs) and cluster
    * size stays bounded; `maxCluster` guards the degenerate case the same
    * way `maxBucket` guards LSH buckets (oversized clusters skip pruning
    * rather than detonate a quadratic join).
    *
    * Clustering here is one deterministic assignment pass against the k
    * lowest-id vectors as fixed centroids — exactly reproducible and
    * SQL-replayable (the correctness contract). For production quality
    * pass Lloyd-refined centroids from `Similarity.buildIvf` through
    * `semanticDedupWith`; the prune semantics are identical.
    *
    * One broadcast (k centroids), one shuffle on cluster id for the
    * intra-cluster join. Returns (id, cid, dropped). */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, eps: Double = 0.43, maxCluster: Int = 1000000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // the k lowest ids by rank, not `orderBy.limit(k)`: Spark names the
    // counter in a limit's generated code from a JVM-wide sequence, so a
    // limit inside a plan compiles new classes on every run
    val centroids = base
      .withColumn("rn", row_number().over(Window.orderBy("id")))
      .filter(col("rn") <= k)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    semanticDedupWith(df, idCol, vecCol, centroids, eps, maxCluster)
  }

  /** SemDeDup prune against caller-supplied centroids (cid, cvec) —
    * the production entry point (plug in `Similarity.buildIvf` output). */
  def semanticDedupWith(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, eps: Double, maxCluster: Int): DataFrame = {
    // normalize once per row/centroid so every similarity below is a
    // single dot product instead of dot + two norms — 3× less array work
    // through the quadratic intra-cluster stage (zero vectors normalize
    // to zero: similarity 0 to everything, never dropped)
    val base = Vectors.withL2Normalized(
      df.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", "nv")
      .select(col("id"), col("nv"))
    val ncent = Vectors.withL2Normalized(
      centroids.select(col("cid"), col("cvec")), "cvec", "ncv")
      .select(col("cid"), col("ncv"))
    // nearest centroid; ties break to the lowest cid so assignment is
    // deterministic under any aggregation merge order
    // the assignment table anchors FOUR consumers (the cluster-size
    // cap, both sides of the intra-cluster join, and the final output) —
    // a working set, so the k-way scoring crossJoin runs once; the slim
    // (id, cid, dropped) result is pinned before it is released.
    val best = base.crossJoin(broadcast(ncent))
      .select(col("id"), col("nv"), col("cid"),
        Vectors.dot(col("nv"), col("ncv")).as("sim"))
      .groupBy("id")
      .agg(min_by(struct(col("cid"), col("nv")),
        struct(-col("sim"), col("cid"))).as("b"))
      .select(col("id"), col("b.cid").as("cid"), col("b.nv").as("nv"))
    val prunable = best.join(
      best.groupBy("cid").agg(count(lit(1)).as("cn"))
        .filter(col("cn") <= maxCluster).select("cid"),
      Seq("cid"))
    val l = prunable.select(col("cid"), col("id").as("id_a"), col("nv").as("nv_a"))
    val r = prunable.select(col("cid"), col("id").as("id_b"), col("nv").as("nv_b"))
    val droppedIds = l.join(r, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(Vectors.dot(col("nv_a"), col("nv_b")) >= eps)
      .select(col("id_b").as("id")).distinct()
    val out = best
      .join(droppedIds.withColumn("d", lit(true)), Seq("id"), "left_outer")
      .select(col("id"), col("cid"),
        coalesce(col("d"), lit(false)).as("dropped"))
    using(best)(pin(out))
  }
}
