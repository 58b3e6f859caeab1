package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.WorkingSet

/** Training-mix monitoring: distribution statistics over corpus slices.
  * The question a 100 TB pipeline asks after every re-mix: "did source
  * X's language (or domain/length-bucket) profile drift from the corpus
  * profile?" — answered with per-slice KL divergence against the global
  * distribution in two count shuffles + a broadcast.
  */
object Mix {

  /** Per-slice KL divergence KL(p_slice ‖ p_global) over the `keyCol`
    * distribution, plus the slice row count. Zero-probability keys inside
    * a slice contribute 0 (lim x·ln x = 0); keys absent globally cannot
    * occur in a slice. Determinism: each p·ln(p/q) term is rounded to 12
    * decimals and summed EXACTLY as decimal (float merge order can never
    * change the result), then the sum is rounded to 6 — the engine's
    * standard cross-engine float contract. Output: sliceCol, n, kl. */
  def klDrift(df: DataFrame, sliceCol: String, keyCol: String): DataFrame = {
    // feeds slice totals, global totals, and terms
    val cell =
      WorkingSet.pin(df.groupBy(sliceCol, keyCol).agg(count(lit(1)).as("c")))
    val slice = cell.groupBy(sliceCol).agg(sum("c").as("ns"))
    val global = cell.groupBy(keyCol).agg(sum("c").as("ck"))
    val total = cell.agg(sum("c").as("n")) // 1-row
    val term = cell
      .join(broadcast(slice), sliceCol)
      .join(broadcast(global), keyCol)
      .crossJoin(broadcast(total))
      .select(col(sliceCol), col("ns"),
        round(
          (col("c").cast("double") / col("ns").cast("double")) *
            log((col("c").cast("double") * col("n").cast("double")) /
              (col("ns").cast("double") * col("ck").cast("double"))),
          12).cast("decimal(28,12)").as("t"))
    term.groupBy(sliceCol)
      .agg(max("ns").cast("long").as("n"),
        round(sum("t").cast("double"), 6).as("kl"))
  }

  /** Training-mix construction: deterministically select documents from
    * each slice until that slice's token budget is met. Selection order
    * is md5(seed:id) — a repartition/retry-invariant shuffle of each
    * slice, so the mix is reproducible and nested (raising one budget
    * keeps every previously selected doc). A document is selected while
    * the tokens BEFORE it are under budget, so the boundary doc is
    * included and each non-exhausted slice reaches ≥ its budget.
    *
    * `budgets` is a small (sliceCol, budget) frame, broadcast. Slices
    * absent from it contribute nothing. The per-slice running totals use
    * the two-phase distributed prefix sum (no per-slice global window).
    * NULL ids have no stable identity and are excluded. Output: the
    * selected rows of `df` plus `tokens_before`. */
  def takeByTokenBudget(
      df: DataFrame,
      sliceCol: String,
      idCol: String,
      nCol: String,
      budgets: DataFrame,
      seed: String): DataFrame = {
    val keyed = df.filter(col(idCol).isNotNull)
      .withColumn("__mixkey",
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
    val ranked = Packing.withTokensBeforePerGroup(
      keyed, sliceCol, "__mixkey", nCol, "tokens_before")
    val b = budgets.select(col(sliceCol).as("__bs"), col("budget"))
    ranked.join(broadcast(b), col(sliceCol) <=> col("__bs"))
      .filter(col("tokens_before") < col("budget"))
      .drop("__mixkey", "__bs", "budget")
  }

  /** Temperature-scaled source mixing (the multilingual/multi-source
    * rebalance: sample source s with probability ∝ n_s^alpha, so
    * alpha = 1 keeps natural proportions, alpha → 0 flattens toward
    * uniform, boosting small sources). Per-source expected row quota =
    * targetRows · n_s^alpha / Σ n_t^alpha, realized as a per-row weight
    * quota/n_s applied through `Sampling.resampleByWeight` — weights > 1
    * duplicate rows (`copy_id`), weights < 1 downsample, both decided by
    * the same deterministic id-hash buckets (no rand(), append-stable).
    *
    * Scale shape: ONE count aggregate (map-side combinable, #sources
    * rows to the driver) to learn the mix, then one scan applying
    * literal cutoffs — no shuffle of the data itself. */
  def temperatureMix(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      alpha: Double,
      targetRows: Long,
      buckets: Int = 10000,
      bucketExpr: Option[org.apache.spark.sql.Column] = None,
      maxSources: Int = 10000): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha out of [0,1]: $alpha")
    require(targetRows >= 0, s"targetRows must be >= 0: $targetRows")
    val counts = collectSources(
      df.groupBy(sourceCol).agg(count(lit(1)).as("n")), sourceCol, maxSources)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val powSum = counts.values.map(pow6(_, alpha)).sum.toDouble
    val weights = counts.map { case (s, n) =>
      s -> targetRows * pow6(n, alpha).toDouble / powSum / n }
    Sampling.resampleByWeight(df, sourceCol, idCol, weights,
      defaultWeight = 0.0, buckets = buckets, bucketExpr = bucketExpr)
  }

  /** Bounded driver-side collect of a per-source aggregate: fetch at most
    * maxSources+1 rows (a LIMIT, never the whole frame) and fail loudly
    * when the slice column's cardinality exceeds the cap — a caller
    * passing a high-cardinality column (URL host, doc id) gets an error,
    * not an unbounded driver collect. Training mixes are legitimately
    * specified over tens-to-thousands of sources, far below the cap. */
  private def collectSources(
      agg: DataFrame, sourceCol: String, maxSources: Int) = {
    require(maxSources >= 1, s"maxSources must be >= 1: $maxSources")
    val rows = agg.limit(maxSources + 1).collect()
    require(rows.length <= maxSources,
      s"temperature mixing: > $maxSources distinct '$sourceCol' values — " +
        "that is not a source/slice column; raise maxSources only if the " +
        "mix is really specified over that many sources")
    rows
  }

  /** determinism bridge (cross-run AND cross-engine): each n^alpha is
    * rounded to 6 decimals and the normalizer summed exactly as decimal
    * — a raw double fold would depend on collect() order */
  private def pow6(n: Long, alpha: Double): BigDecimal =
    BigDecimal(math.pow(n.toDouble, alpha))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Token-budgeted temperature mixing — the form production mixes are
    * specified in (a token budget per source, not a row quota): source
    * s receives budget · T_s^alpha / Σ T_t^alpha tokens, where T_s is
    * its total `nCol`, and the budget is filled hash-deterministically
    * by `takeByTokenBudget` (every run and any partitioning picks the
    * same documents). Same one-aggregate-then-scan shape as
    * `temperatureMix`; budgets are floored to whole tokens with the
    * same round-6/decimal-normalizer bridge, so an external SQL engine
    * reproduces the budget table bit-for-bit. */
  def temperatureMixByTokens(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      nCol: String,
      alpha: Double,
      budgetTokens: Long,
      seed: String,
      maxSources: Int = 10000): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha out of [0,1]: $alpha")
    require(budgetTokens >= 0, s"budgetTokens must be >= 0: $budgetTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val totals = collectSources(
      df.groupBy(sourceCol).agg(sum(col(nCol).cast("decimal(38,0)")).as("t")),
      sourceCol, maxSources)
      .map(r => r.getString(0) -> r.getDecimal(1).longValueExact())
    val powSum = totals.map { case (_, t) => pow6(t, alpha) }.sum.toDouble
    val budgets = totals.map { case (s, t) =>
      (s, math.floor(budgetTokens * pow6(t, alpha).toDouble / powSum).toLong)
    }.toSeq.toDF(sourceCol, "budget")
    takeByTokenBudget(df, sourceCol, idCol, nCol, budgets, seed)
  }
}
