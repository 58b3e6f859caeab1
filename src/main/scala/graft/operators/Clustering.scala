package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.WorkingSet.{iterate, pin}

/** Distributed k-means over embedding columns — the clustering primitive
  * behind training-data curation at scale (SemDeDup cluster-then-prune,
  * IVF coarse quantizers, PQ codebooks, topic bucketing). Reference
  * counterpart: the LLM-pipeline similarity/clustering capability
  * (builder brief); the reference engine has no native clustering, so
  * this is additive surface in the same family as `Similarity.buildIvf`.
  *
  * Engine shape (Lloyd's algorithm, synchronous rounds):
  *  - Assignment is a broadcast join of the (tiny) centroid table against
  *    the data — narrow, no data shuffle, scan-speed at 100 TB.
  *  - The mean update is one posexplode + two-level aggregate keyed on
  *    (group, cluster, dim) — cardinality k × dim, independent of row
  *    count, with map-side partial aggregation doing the heavy lifting.
  *  - Per-round centroids are pinned (k × dim doubles) and the previous
  *    round released, so plans, lineage and residency stay bounded no
  *    matter how many rounds run.
  *
  * Determinism contract (repo-wide): similarity scores are rounded to
  * `scoreDigits` before the argmax and ties break on the lowest cluster
  * id, so assignment is stable under any partitioning and replayable by
  * an external SQL engine; centroid means are decimal-exact sums divided
  * to double and rounded to `centroidDigits`, so every round's centroids
  * are bit-identical across runs and engines. Empty clusters keep their
  * previous centroid (standard Lloyd behavior, mirrored by the oracle).
  *
  * Seeding:
  *  - `seedSpread` (default): hash-rank the ids into k groups and take
  *    the min-id vector of each — one tiny aggregate, deterministic, and
  *    spreads seeds across the id space. Not expressible in ANSI SQL
  *    (xxhash64), so correctness queries use:
  *  - `seedFirstK`: the k smallest ids' vectors (Forgy-on-first-k). A
  *    TakeOrdered top-k — scalable — and trivially SQL-replayable.
  */
object Clustering {

  /** `assigned`: (id, cid, score); `centroids`: (cid, cvec) — both
    * pinned since models are queried repeatedly; a caller that drops
    * either releases it (`WorkingSet.release`). */
  final case class KMeansModel(assigned: DataFrame, centroids: DataFrame)

  val seedSpread = "spread"
  val seedFirstK = "firstK"

  /** Cosine k-means (spherical assignment, arithmetic-mean update).
    * `df` must expose `idCol` (unique) and `vecCol` (array of float or
    * double). Returns assignments after `iters` Lloyd rounds. */
  def kmeans(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3, seeding: String = seedSpread): KMeansModel = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("grp", lit(0))
    val seeds = seedCentroids(base, k, seeding)
    val centroids = lloyd(base, seeds, iters, cosineScore)
    val assigned = pin(bestByScore(base, centroids, cosineScore)
      .select(col("id"), col("cid"), col("score")))
    KMeansModel(assigned, centroids.drop("grp"))
  }

  /** Assignment score: cosine rounded to 6 decimals (ties → lowest cid).
    * Rounding before the argmax is what makes the winner independent of
    * float-fold order and identical across engines. */
  private def cosineScore(vec: Column, cvec: Column): Column =
    round(nanvl(Vectors.cosine(vec, cvec), lit(-1.0)), 6)

  /** Negated squared L2 — same "higher is better" convention so the one
    * argmax implementation serves both metrics. */
  private[operators] def negL2Score(vec: Column, cvec: Column): Column =
    -round(aggregate(
      zip_with(vec, cvec, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, v) => acc + v), 6)

  /** Deterministic seeds: (grp, cid, cvec) with cid in [0, k). */
  private[operators] def seedCentroids(
      base: DataFrame, k: Int, seeding: String): DataFrame = seeding match {
    case `seedSpread` =>
      base
        .select(col("grp"), col("id"), col("vec"),
          pmod(xxhash64(col("id")), lit(k)).as("cid"))
        .groupBy("grp", "cid")
        .agg(min_by(col("vec"), col("id")).as("cvec"))
        .select(col("grp"), col("cid").cast("int").as("cid"),
          toDoubleVec(col("cvec")).as("cvec"))
    case `seedFirstK` =>
      // the k smallest ids — a distributed TakeOrdered, then a window
      // over those k rows only (never the full data). Groups share the
      // id set (PQ explodes every id into every subspace), so one
      // broadcast join seeds all groups.
      val topIds = base.select("id").distinct().orderBy("id").limit(k)
        .withColumn("cid",
          (row_number().over(Window.orderBy("id")) - 1).cast("int"))
      base.join(broadcast(topIds), "id")
        .select(col("grp"), col("cid"), toDoubleVec(col("vec")).as("cvec"))
    case other => throw new IllegalArgumentException(
      s"unknown seeding '$other' (expected $seedSpread | $seedFirstK)")
  }

  private def toDoubleVec(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** `iters` Lloyd rounds: argmax assignment + decimal-exact mean update;
    * clusters that lose all members keep their previous centroid. Each
    * round's centroids are pinned and the previous round released; the
    * returned pin is the caller's. */
  private[operators] def lloyd(
      base: DataFrame, seeds: DataFrame, iters: Int,
      score: (Column, Column) => Column): DataFrame =
    iterate(pin(seeds), math.max(iters, 1)) { centroids =>
      val assigned = bestByScore(base, centroids, score)
      val means = assigned
        .select(col("grp"), col("cid"), posexplode(col("vec")))
        .groupBy(col("grp"), col("cid"), col("pos"))
        .agg(round(sum(col("col").cast("decimal(27,12)")).cast("double") /
          count(lit(1)), 6).as("m"))
        .groupBy("grp", "cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("grp"), col("cid"),
          transform(col("pm"), p => p.getField("m")).as("mvec"))
      centroids
        .join(means, Seq("grp", "cid"), "left")
        .select(col("grp"), col("cid"),
          coalesce(col("mvec"), col("cvec")).as("cvec"))
    }

  /** Per-row argmax over the broadcast centroid table: highest rounded
    * score wins, ties go to the lowest cid (max_by on (score, -cid)). */
  private[operators] def bestByScore(
      base: DataFrame, centroids: DataFrame,
      score: (Column, Column) => Column): DataFrame =
    base.join(broadcast(centroids), "grp")
      .select(col("grp"), col("id"), col("vec"), col("cid"),
        score(col("vec"), col("cvec")).as("score"))
      .groupBy("grp", "id")
      .agg(max_by(struct(col("cid"), col("vec"), col("score")),
        struct(col("score"), -col("cid"))).as("best"))
      .select(col("grp"), col("id"), col("best.vec").as("vec"),
        col("best.cid").as("cid"), col("best.score").as("score"))
}
