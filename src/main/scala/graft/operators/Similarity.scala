package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.WorkingSet

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *    One scan, no shuffle except the final top-k (TakeOrderedAndProject);
  *    at 100 TB this is the per-query-vector fallback, not the index.
  *  - `IvfIndex`: inverted-file index (k-means-lite centroids). Build
  *    assigns every vector to its nearest centroid (narrow, one shuffle
  *    per Lloyd iteration for the mean recompute); search probes only the
  *    `nprobe` closest centroid partitions — the 100 TB scale path, since
  *    a query touches ~nprobe/nlist of the data. The index DataFrame can
  *    be persisted bucketed by centroid for repeated querying.
  */
object Similarity {

  /** Exact cosine top-k against one query vector (given as literal seq). */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = lit(query.toArray)
    df.select(col(idCol).as("id"),
        safeCosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Top-k for a query vector already in the table (by id). */
  def topKForId(
      df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"))
    df.crossJoin(broadcast(q))
      .select(col(idCol).as("id"),
        safeCosine(col(vecCol), col("qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Batched exact top-k: every query in `queries` (qidCol, qvecCol —
    * a SMALL batch, broadcast whole) against the full corpus in ONE pass.
    * Returns (qid, id, cosine, rank ≤ k).
    *
    * Distributed top-k-per-group in two bounded phases: phase 1 ranks
    * within (query, input-partition) — every window partition holds only
    * one scan partition's rows; phase 2 ranks the ≤ k·numPartitions
    * survivors per query. A single window partitioned by query alone
    * would funnel |corpus| rows per query through one task, which is the
    * classic hot-group sort at scale. */
  def topKBatch(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    val scored = corpus.crossJoin(broadcast(q))
      .select(col("qid"), col(idCol).as("id"),
        safeCosine(col(vecCol), col("qvec")).as("cosine"))
    boundedTopKPerQuery(scored, k).select("qid", "id", "cosine", "rank")
  }

  /** The shared bounded two-phase top-k-per-query: phase 1 ranks within
    * (query, input-partition) so no window partition ever holds more
    * than one scan partition's rows; phase 2 ranks the ≤ k·numPartitions
    * survivors per query. A single window partitioned by query alone
    * would funnel |corpus| rows per query through one task — the classic
    * hot-group sort at scale. Expects (qid, id, cosine, …); adds
    * `rank` ≤ k. */
  private def boundedTopKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLocal = Window.partitionBy("qid", "__pid")
      .orderBy(col("cosine").desc, col("id"))
    val wGlobal = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rn", row_number().over(wLocal))
      .filter(col("__rn") <= k)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .drop("__rn", "__pid")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query row (drawn from the corpus by id), the `k` nearest corpus
    * vectors whose `labelCol` DIFFERS from the query's — the confusable
    * cross-class examples a contrastive loss learns the most from
    * (in-batch random negatives are mostly easy).
    *
    * Same bounded two-phase top-k as `topKBatch` (per-partition heads,
    * then ≤ k·numPartitions survivors per query — never a full-corpus
    * sort per query); the label exclusion rides the broadcast join
    * filter, so the corpus is still scanned once for the whole query
    * batch. NULL-label corpus rows never qualify as negatives (NULL <>
    * x is not true).
    *
    * Caller errors fail loudly: a `queryIds` entry absent from the
    * corpus, or a query row with a NULL label (which would silently
    * match nothing — `label <> NULL` is never true), both throw instead
    * of masquerading as "no confusable examples". */
  def hardNegatives(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val q = corpus
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        col(labelCol).as("qlabel"))
    // the query set is bounded (≤ queryIds.size rows) — validating it is
    // one small collect, and it is about to be broadcast anyway
    val resolved = q.select("qid", "qlabel").collect()
    val found = resolved.map(_.getLong(0)).toSet
    val missing = queryIds.filterNot(found)
    require(missing.isEmpty,
      s"queryIds absent from corpus: ${missing.mkString(", ")}")
    val nullLabeled = resolved.filter(_.isNullAt(1)).map(_.getLong(0))
    require(nullLabeled.isEmpty,
      s"query rows with NULL $labelCol (no negative can ever match): " +
        nullLabeled.mkString(", "))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col(labelCol) =!= col("qlabel"))
      .select(col("qid"), col(idCol).as("id"), col(labelCol).as("label"),
        safeCosine(col(vecCol), col("qvec")).as("cosine"))
    boundedTopKPerQuery(scored, k)
      .select("qid", "id", "label", "cosine", "rank")
  }

  /** IVF index: rows tagged with nearest-centroid id + centroid table. */
  final case class Ivf(assigned: DataFrame, centroids: DataFrame)

  /** Build an IVF index with deterministic seeding (every nlist-th vector
    * by id rank is a seed) and `iters` Lloyd refinement rounds. */
  def buildIvf(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2): Ivf = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // deterministic seeds: hash-rank the ids, take nlist of them spread out
    var centroids = base
      .select(col("id"), col("vec"), pmod(xxhash64(col("id")), lit(nlist)).as("h"))
      .groupBy("h").agg(min_by(col("vec"), col("id")).as("cvec"))
      .select(col("h").as("cid"), col("cvec"))

    var assigned: DataFrame = null
    for (_ <- 0 until math.max(iters, 1)) {
      assigned = assignToCentroids(base, centroids)
      // recompute means: explode dims, average per (cid, pos), re-collect.
      // Exact-decimal sum → double division: partial-merge order must not
      // perturb centroids (the repo-wide float-determinism contract) or
      // borderline vectors flip assignments between runs.
      centroids = assigned
        .select(col("cid"), posexplode(col("vec")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("cvec"))
    }
    // materialize: the index is queried repeatedly — without this every
    // searchIvf action re-runs all Lloyd iterations from lineage
    val builtCentroids = WorkingSet.pin(centroids)
    val builtAssigned = WorkingSet.pin(assignToCentroids(base, builtCentroids))
    Ivf(builtAssigned, builtCentroids)
  }

  /** Cosine that ranks zero vectors last instead of first: 0/0 = NaN and
    * Spark sorts NaN above every double, so an unguarded zero embedding
    * would top every similarity ranking. */
  private def safeCosine(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    nanvl(Vectors.cosine(a, b), lit(-1.0))

  private def assignToCentroids(base: DataFrame, centroids: DataFrame): DataFrame =
    base.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        safeCosine(col("vec"), col("cvec")).as("sim"))
      .groupBy("id")
      // tie-break equal sims on cid so assignment is deterministic under
      // any merge order (duplicate seed vectors make exact ties real)
      .agg(max_by(struct(col("cid"), col("vec"), col("sim")),
        struct(col("sim"), col("cid"))).as("best"))
      .select(col("id"), col("best.vec").as("vec"), col("best.cid").as("cid"))

  /** Probe the nprobe nearest centroid lists for a query vector. */
  def searchIvf(
      ivf: Ivf, query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val q = lit(query.toArray)
    val probeCids = ivf.centroids
      .select(col("cid"), safeCosine(col("cvec"), q).as("csim"))
      .orderBy(col("csim").desc, col("cid"))  // deterministic at ties
      .limit(nprobe)
      .select("cid")
    ivf.assigned
      .join(broadcast(probeCids), "cid")   // partition pruning at scale
      .select(col("id"), safeCosine(col("vec"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Quantized inverted lists: the assigned table stores int8 vectors
    * (+ per-row scale) instead of floats — a 4× cut in the index's
    * resident size, the practical enabler for keeping hot IVF partitions
    * cached at 100 TB. Centroids stay float (they're tiny and probed
    * per query). */
  def quantizeIvf(ivf: Ivf): Ivf = {
    val q = Vectors.withInt8Quantized(ivf.assigned, "vec")
    Ivf(q.select(col("id"), col("cid"), col("q_vec"), col("q_scale")),
      ivf.centroids)
  }

  /** Search over quantized inverted lists: ints are dequantized on the
    * fly inside the probed partitions only. (Cosine is scale-invariant,
    * so quantization affects results only by the ≤ scale/2 per-element
    * rounding error.) */
  def searchIvfQuantized(
      ivf: Ivf, query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val q = lit(query.toArray)
    val probeCids = ivf.centroids
      .select(col("cid"), safeCosine(col("cvec"), q).as("csim"))
      .orderBy(col("csim").desc, col("cid"))
      .limit(nprobe)
      .select("cid")
    ivf.assigned
      .join(broadcast(probeCids), "cid")
      .select(col("id"),
        nanvl(Vectors.cosine(
          Vectors.dequantize(col("q_vec"), col("q_scale")), q), lit(-1.0))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }
}
