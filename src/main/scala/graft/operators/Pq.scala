package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import graft.WorkingSet

/** Product quantization (PQ) for approximate nearest neighbor at 100 TB —
  * the memory-side complement to `Similarity.buildIvf`'s partition
  * pruning. Reference counterpart: the similarity-search capability
  * (builder brief); PQ is the standard scale path when even int8 rows
  * are too large to keep hot (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  * The vector is split into `m` contiguous subvectors; each subspace
  * gets its own `ksub`-centroid codebook (Lloyd's via
  * `Clustering.lloyd`, squared-L2 metric, all m subspaces trained in ONE
  * pass per round — the subspace id is the Lloyd group key, so the
  * per-round cost is a single broadcast-join scan + one k×m×dsub-sized
  * aggregate, not m sequential jobs). Every vector is then encoded as m
  * small integers: with m=8, ksub=16 a 64-dim float vector (256 B)
  * becomes 8 codes (≤8 B) — a 32× cut in index-resident size.
  *
  * Search is asymmetric distance computation (ADC): the query is NOT
  * quantized; its exact squared distance to every codebook centroid is
  * precomputed into an m×ksub lookup table that is folded into the plan
  * as a literal array (a few KB riding the task binary — no broadcast,
  * no join). The scan then sums m array lookups per row inside
  * whole-stage codegen and takes the top-k — no shuffle except the final
  * TakeOrderedAndProject.
  *
  * Determinism: codebook training inherits `Clustering`'s contract
  * (rounded scores, decimal-exact means, lowest-cid ties), and ADC
  * distances are rounded to 6 decimals with id-ascending tie-break, so
  * results are stable under any partitioning. */
object Pq {

  /** `codes`: (id, codes array<int> of length m); `codebooks`:
    * (sub, cid, cvec array<double> of length dsub). */
  final case class PqModel(
      codes: DataFrame, codebooks: DataFrame, m: Int, dsub: Int, ksub: Int)

  /** Train codebooks and encode every row. `dim` must be divisible by
    * `m`. Seeding follows `Clustering` (default hash-spread;
    * `Clustering.seedFirstK` for SQL-replayable runs). */
  def buildPq(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
      ksub: Int, iters: Int = 3,
      seeding: String = Clustering.seedSpread): PqModel = {
    require(m > 0 && dim % m == 0, s"dim $dim must be divisible by m $m")
    require(ksub > 0, s"ksub must be positive, got $ksub")
    val dsub = dim / m
    // (id, grp=subspace, vec=subvector): slice is 1-based
    val subbed = df.select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col(vecCol), s * dsub + 1, lit(dsub)))))
      .select(col("id"), col("pos").as("grp"), col("col").as("vec"))
    val seeds = Clustering.seedCentroids(subbed, ksub, seeding)
    val codebooks = Clustering.lloyd(subbed, seeds, iters, Clustering.negL2Score)
    val codes = WorkingSet.pin(
      Clustering.bestByScore(subbed, codebooks, Clustering.negL2Score)
        .groupBy("id")
        .agg(array_sort(collect_list(struct(col("grp"), col("cid")))).as("sc"))
        .select(col("id"),
          transform(col("sc"), p => p.getField("cid")).as("codes")))
    PqModel(codes, codebooks.select(col("grp").as("sub"), col("cid"),
      col("cvec")), m, dsub, ksub)
  }

  /** ADC top-k: approximate squared distance = Σ_sub lut[sub][code].
    * Ascending distance, ties on id. `adist2` is exposed so callers can
    * gate on an absolute radius too. */
  def searchPq(model: PqModel, query: Seq[Float], k: Int): DataFrame = {
    val lut = adcTable(model, query)
    model.codes
      .select(col("id"),
        round(aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(model.m - 1)),
            (code, sub) => element_at(typedLit(lut),
              sub * model.ksub + code + 1)),
          lit(0.0), (acc, v) => acc + v), 6).as("adist2"))
      .orderBy(col("adist2").asc, col("id"))
      .limit(k)
  }

  /** ADC shortlist of `k * refine` candidates, then exact distance over
    * the original vectors for the final top-k — the standard two-stage
    * PQ pipeline. `metric` is "cosine" (descending similarity) or "l2"
    * (ascending squared distance). The shortlist is tiny, so the rerank
    * join broadcasts and only the shortlisted rows' vectors are ever
    * touched. */
  def searchPqExactRerank(
      model: PqModel, df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, refine: Int = 4,
      metric: String = "cosine"): DataFrame = {
    val shortlist = searchPq(model, query, k * math.max(refine, 1))
      .select("id")
    val q = lit(query.toArray)
    val joined = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(broadcast(shortlist), "id")
    metric match {
      case "cosine" =>
        joined.select(col("id"),
            nanvl(Vectors.cosine(col("vec"), q), lit(-1.0)).as("cosine"))
          .orderBy(col("cosine").desc, col("id"))
          .limit(k)
      case "l2" =>
        joined.select(col("id"),
            Vectors.l2Distance(col("vec"), q).as("dist"))
          .orderBy(col("dist").asc, col("id"))
          .limit(k)
      case other => sys.error(s"unknown rerank metric $other")
    }
  }

  /** Driver-side m×ksub table of exact squared L2 from the query's
    * subvectors to every codebook centroid; flat layout sub*ksub+cid.
    * The codebook collect is bounded (m × ksub rows) by construction. */
  private def adcTable(model: PqModel, query: Seq[Float]): Seq[Double] = {
    require(query.length == model.m * model.dsub,
      s"query dim ${query.length} != ${model.m * model.dsub}")
    val lut = new Array[Double](model.m * model.ksub)
    java.util.Arrays.fill(lut, Double.MaxValue) // unseeded (sub,cid) slots
    model.codebooks.select("sub", "cid", "cvec").collect().foreach { r =>
      val sub = r.getInt(0)
      val cid = r.getInt(1)
      val cvec = r.getSeq[Double](2)
      var d2 = 0.0
      var i = 0
      while (i < model.dsub) {
        val d = query(sub * model.dsub + i).toDouble - cvec(i)
        d2 += d * d
        i += 1
      }
      lut(sub * model.ksub + cid) = d2
    }
    lut.toSeq
  }
}
