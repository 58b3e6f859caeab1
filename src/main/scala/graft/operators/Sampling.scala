package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixing: the keep/drop
  * decision is a pure function of the row's id, not of rand() or
  * partition layout, so a retried task, a repartitioned input, or a
  * re-run pipeline selects exactly the same rows (idempotence is what
  * makes downsampling composable with exactly-once ingest).
  *
  * Per-stratum rates make it the source/language re-weighting primitive
  * of a pre-training mix ("keep 50% of web, 100% of books"). Pure
  * per-row filter: no shuffle, codegen'd, scan-bound at any scale.
  *
  * Cutoffs are computed driver-side in integer bucket units
  * (`math.round(rate * buckets)`), never by per-row float floor — so
  * rate 0.29 with 100 buckets keeps exactly 29 buckets, not 28 via a
  * 28.999… double. A NULL bucket (NULL id under a custom bucketExpr)
  * is coalesced to bucket 0: NULL-id rows are kept/dropped as one
  * block rather than silently vanishing in the `NULL < cutoff` filter;
  * assign real ids upstream if per-row NULL sampling matters.
  */
object Sampling {

  private def cutoffs(
      strataCol: String,
      values: Map[String, Double],
      default: Double,
      toCutoff: Double => Long): Column =
    values.foldLeft(lit(toCutoff(default))) { case (acc, (k, v)) =>
      when(col(strataCol) === lit(k), lit(toCutoff(v))).otherwise(acc)
    }

  /** Keep each row with probability `rates(stratum)` (else
    * `defaultRate`), decided by hashing the id into `buckets` and
    * keeping the low-bucket fraction. `bucketExpr` overrides the
    * bucketing function (default: xxhash64 of the id — uniform even
    * when ids cluster). Rates are exact per bucket: rate 0.25 with
    * 10000 buckets keeps exactly buckets [0, 2500). */
  def stratified(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      buckets: Int = 10000,
      bucketExpr: Option[Column] = None): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    (rates.values ++ Seq(defaultRate)).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rate out of [0,1]: $r"))
    val bucket = coalesce(
      bucketExpr.getOrElse(pmod(xxhash64(col(idCol)), lit(buckets))), lit(0L))
    val cutoff = cutoffs(strataCol, rates, defaultRate,
      r => math.round(r * buckets))
    df.filter(bucket < cutoff)
  }

  /** Deterministic train/val/test split assignment: the row's
    * md5(seed:id) bucket (0..buckets) lands in cumulative-weight ranges,
    * so every row gets exactly one split label, assignments survive
    * re-runs / repartitioning / incremental appends (a new row never
    * moves an old one), and changing the seed re-deals the whole split.
    * Zero shuffle — one expression per row. `splits` is ordered
    * (name, weight); weights are normalized. */
  def assignSplits(
      df: DataFrame, idCol: String, seed: String,
      splits: Seq[(String, Double)], buckets: Int = 1000000): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    val total = splits.map(_._2).sum
    val bucket = pmod(
      conv(substring(md5(
        concat(lit(seed + ":"), col(idCol).cast("string"))), 1, 15),
        16, 10).cast("long"),
      lit(buckets.toLong))
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c / total * buckets))
    val label = splits.map(_._1).zip(cums).reverse
      .foldLeft(lit(splits.last._1)) { case (els, (name, cut)) =>
        when(bucket < cut, lit(name)).otherwise(els)
      }
    df.withColumn("split", label)
  }

  /** Deterministic weighted resampling: weight 2.5 repeats every row
    * twice and a stable half of the rows a third time (decided by the
    * same id-hash buckets, so re-runs emit identical copies). Weights
    * < 1 downsample, > 1 oversample — one operator covers the whole
    * mixture spec of a training run. Adds `copy_id` (0-based) so
    * downstream global shuffles can still distinguish the repeats.
    * Pure generator expression: no shuffle, output size = Σ weights. */
  def resampleByWeight(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0,
      buckets: Int = 10000,
      bucketExpr: Option[Column] = None): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    (weights.values ++ Seq(defaultWeight)).foreach(w =>
      require(w >= 0.0, s"negative weight: $w"))
    require(!df.columns.contains("copy_id"),
      "input already has a copy_id column — rename it first")
    val bucket = coalesce(
      bucketExpr.getOrElse(pmod(xxhash64(col(idCol)), lit(buckets))), lit(0L))
    // per-stratum integer pair, driver-side: whole copies + the bucket
    // cutoff for the fractional extra copy
    val base = cutoffs(strataCol, weights, defaultWeight,
      w => math.floor(w).toLong)
    val fracCutoff = cutoffs(strataCol, weights, defaultWeight,
      w => math.round((w - math.floor(w)) * buckets))
    val copies = (base + when(bucket < fracCutoff, 1L).otherwise(0L))
      .cast("int")
    df.withColumn("copy_id", explode(TextOps.upTo(lit(0), copies - 1)))
  }

  /** Deterministic global shuffle for training order: every row gets a
    * stable 0-based `pos` (its rank under md5(seed:id) — a keyed
    * pseudorandom permutation, identical on every re-run) and a
    * round-robin `shard` = pos % numShards (shards balanced to ±1 row).
    * Distributed the same way as `Packing.withTokensBefore`: range-
    * partition by the hash key, per-partition local ranks, one tiny
    * broadcast offset table — no global single-partition window. Ids
    * must be unique and non-null. */
  def deterministicShuffle(
      df: DataFrame,
      idCol: String,
      seed: String,
      numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val keyed = df
      .withColumn("__key",
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
      .withColumn("__one", lit(1L))
    Packing.withTokensBefore(keyed, "__key", "__one", "pos")
      .withColumn("shard", pmod(col("pos"), lit(numShards.toLong)))
      .drop("__key", "__one")
  }

  /** Fixed-k-per-group deterministic sample ("5 docs per language"): the
    * k rows of each group with the smallest 60-bit key derived from
    * md5(seed:id). Bounded at any group size: the per-group selection
    * runs through the `min_k` aggregate (state ≤ k on map and merge
    * sides), then the winning keys join back to recover the rows — no
    * per-group sort, no window over a hot group. Ids must be non-null
    * (NULL-id rows are excluded — no stable identity to key on); rows
    * with a NULL group form their own group (null-safe join-back).
    * Distinct ids in one group colliding on the 60-bit key (≈2^-60)
    * would deliver k+1 rows (both rows match the winning key), never a
    * wrong row. */
  def groupSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      k: Int,
      seed: String): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val key = conv(substring(
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    val keyed = df.filter(col(idCol).isNotNull).withColumn("__key", key)
    val minK = toCol(graft.functions.MinKAgg(toExpr(col("__key")), k)
      .toAggregateExpression())
    val winners = keyed.groupBy(groupCol).agg(minK.as("__ks"))
      .select(col(groupCol).as("__g"), explode(col("__ks")).as("__wk"))
    // null-safe on the group: a plain equi-join would never match the
    // NULL group's winners, silently dropping every NULL-group row
    keyed.join(winners,
        col(groupCol) <=> col("__g") && col("__key") === col("__wk"),
        "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Weighted k-row sample without replacement, deterministic in
    * (seed, id) — Efraimidis–Spirakis A-Res (IPL 2006): each row draws
    * key = u^(1/w) from its deterministic 52-bit uniform
    * u = (md5-hash + 0.5) / 2^52, and the k largest keys are the sample.
    * Inclusion probability is proportional to weight without
    * replacement, and like `hashMinK` the selection survives re-runs,
    * repartitioning, and incremental appends (an old row's key never
    * changes).
    *
    * Runs as distributed top-k (per-partition heads + one k-row merge),
    * never a global sort. Rows with NULL id or non-positive/NULL weight
    * are excluded (no stable identity / zero inclusion mass). Keys of
    * heavy rows cluster near 1.0 (u^(1/w) → 1 as w grows) but stay
    * separated by ~1e-6 per distinct u at corpus scale — far above the
    * 1-ulp cross-engine pow() jitter; ids tie-break the impossible
    * exact-equal case deterministically. */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: String): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (conv(substring(
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))), 1, 13),
      16, 10).cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    df.filter(col(idCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol).cast("double") > 0)
      .withColumn("__skey", pow(u, lit(1.0) / col(weightCol).cast("double")))
      .orderBy(col("__skey").desc, col(idCol).cast("string"))
      .limit(k)
      .drop("__skey")
  }

  /** Uniform k-row sample without replacement, deterministic in (seed, id):
    * the k rows with the smallest md5(seed:id). Runs as distributed top-k
    * (per-partition heads, then one k-row merge — TakeOrderedAndProject),
    * never a global sort; changing k from 1000 to 1001 keeps the first
    * 1000 rows (nested samples), which rand()-based sampling cannot do.
    * NULL-id rows have no stable identity to key on and are excluded
    * (an ascending sort would otherwise put their NULL keys FIRST and
    * let them hijack the whole sample in nondeterministic order). */
  def hashMinK(df: DataFrame, idCol: String, k: Int, seed: String): DataFrame = {
    require(k > 0, "k must be positive")
    df.filter(col(idCol).isNotNull)
      .withColumn("__key",
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
      .orderBy("__key").limit(k)
      .drop("__key")
  }
}
