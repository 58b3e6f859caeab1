package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.WorkingSet

/** Time-series regularization over event streams: fixed-step resampling
  * with gap-fill and forward-fill — the prep step that turns an
  * irregular event log into the dense per-key series a feature pipeline
  * or monitoring query expects.
  *
  * Scale shape: events first collapse to (key, bucket) aggregates — a
  * map-side-combinable shuffle that reduces the data to |keys| × |time
  * range / step| before anything else. The dense grid is generated
  * distributively (sequence + explode per key — never a driver loop),
  * and the global bucket bounds arrive via a one-row broadcast, not a
  * collect. The forward-fill window sorts each key's buckets only: its
  * partition size is bounded by the time range over the step, which is
  * fixed by the query, not by data volume — hot keys cost the same as
  * cold ones.
  */
object TimeSeries {

  /** One row per (key, bucket) for every `stepSeconds` bucket between
    * the stream's global min and max event bucket:
    *   - `observed`: exact-decimal sum of `valueCol` in the bucket
    *     (NULL where the key had no event — a gap);
    *   - `filled`: last non-NULL observed value at or before the bucket
    *     (NULL before the key's first observation);
    *   - `was_observed`: whether the bucket had any event.
    * Buckets are epoch-second longs (bucket start), exact integer
    * arithmetic end-to-end. NULL-key and NULL-ts rows are dropped. */
  def gapFill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val step = lit(stepSeconds)
    // the collapsed (key, bucket) aggregate feeds the bounds, the grid's
    // key set, AND the observation join — collapse the raw events ONCE
    // and checkpoint the SMALL collapsed frame (≤ one row per observed
    // key-bucket), so the source is scanned exactly once and the dense
    // grid output stays a lazy plan (checkpointing the grid itself would
    // eagerly pin the largest frame in the pipeline; this is the one
    // pinned copy, the pageRank/minhash contract)
    val obs = WorkingSet.pin(df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"),
        (floor(unix_timestamp(col(tsCol)) / step) * step).cast("long")
          .as("__b"),
        col(valueCol).as("__v"))
      .groupBy("__k", "__b")
      .agg(cast_sum(col("__v")).as("observed")))
    // global bounds: a one-row frame, broadcast into the grid join
    val bounds = obs.agg(min("__b").as("__lo"), max("__b").as("__hi"))
    val grid = obs.select(col("__k")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("__k"),
        explode(sequence(col("__lo"), col("__hi"), step)).as("__b"))
    val w = Window.partitionBy("__k").orderBy("__b")
    grid.join(obs, Seq("__k", "__b"), "left")
      .select(col("__k").as(keyCol), col("__b").as("bucket"),
        col("observed"),
        last(col("observed"), ignoreNulls = true).over(w).as("filled"),
        col("observed").isNotNull.as("was_observed"))
  }

  /** Exponentially-weighted moving average per key: the recurrence
    * `e_1 = x_1; e_i = alpha*x_i + (1-alpha)*e_{i-1}` folded over each
    * key's rows in `ordCol` order, reporting the final smoothed value —
    * the "current level" read of a metric stream. `ordCol` must be
    * unique per key (an event id / sequence number): a total order is
    * what makes the recurrence well-defined, and an integer order
    * column sidesteps engine-specific sub-microsecond timestamp
    * truncation that would silently permute the fold.
    *
    * Scale shape: one map-side-combinable groupBy; each key's history
    * is gathered and folded INSIDE the aggregate via codegen'd
    * higher-order functions (`array_sort` + `aggregate`) — no window
    * shuffle, no UDF. Per-key memory is the key's row count, the same
    * bound a WindowExec sort over the key would need; keys are
    * independent so hot keys parallelize across the shuffle like any
    * skewed groupBy (AQE). (The recurrence is a composition of affine
    * maps and hence associative — a custom partial-aggregate is the
    * escape hatch if a single key's history ever outgrows one task;
    * not needed at any bench scale.)
    *
    * Rows with a NULL key, order, or value are dropped (NULL has no
    * position in the fold). Output: (key, n_obs, last_ord, ewma). */
  def ewma(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val obs = df.filter(col(keyCol).isNotNull && col(ordCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(ordCol).as("__o"),
        col(valueCol).cast("double").as("__v"))
    obs.groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).as("n_obs"), max("__o").as("last_ord"),
        aggregate(
          array_sort(collect_list(struct(col("__o").as("o"),
            col("__v").as("v")))),
          struct(lit(false).as("s"), lit(0.0).as("a")),
          (acc, e) => struct(lit(true).as("s"),
            when(acc.getField("s"),
              lit(alpha) * e.getField("v") +
                lit(1.0 - alpha) * acc.getField("a"))
              .otherwise(e.getField("v")).as("a")),
          acc => acc.getField("a")).as("ewma"))
  }

  /** The repo-wide float-determinism contract: doubles sum through
    * exact decimals so the result is independent of partial-aggregation
    * order and bit-identical to a SQL oracle's replay. */
  private def cast_sum(v: org.apache.spark.sql.Column) =
    sum(v.cast("decimal(18,2)")).cast("double")
}
