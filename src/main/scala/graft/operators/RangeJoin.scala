package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join: fact rows with a numeric point column joined
  * to ranges `[start, end)`. Spark plans the naive non-equi predicate as
  * a BroadcastNestedLoopJoin — quadratic work per partition, and a
  * scale-killer the moment the ranges side outgrows broadcast.
  *
  * Re-expression: quantize both sides into fixed-width buckets — a
  * point falls in exactly one bucket, a range explodes into the buckets
  * it covers (bounded by rangeWidth/bucketWidth rows) — equi-join on
  * the bucket id, then apply the exact range predicate as a residual
  * filter. One hash shuffle, work proportional to true matches plus
  * bucket slack; each (fact, range) pair meets in exactly one bucket so
  * no dedup pass is needed. Pick bucketWidth ≈ typical range width.
  * Negative domains are safe: `div` truncates toward zero on both
  * sides, and truncation is monotonic, so s <= p < e still implies
  * bucket(p) ∈ [bucket(s), bucket(e-1)].
  */
object RangeJoin {

  def pointInRange(
      facts: DataFrame,
      pointCol: String,
      ranges: DataFrame,
      startCol: String,
      endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val fb = facts.withColumn("__bucket",
      expr(s"`$pointCol` div $bucketWidth"))
    val rb = buckets(ranges, startCol, endCol, bucketWidth)
    fb.join(rb, Seq("__bucket"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__bucket")
  }

  /** Interval-OVERLAP join: rows of `left` `[ls, le)` joined to rows of
    * `right` `[rs, re)` where the intervals intersect (ls < re AND
    * rs < le). Same re-expression as `pointInRange`, applied to both
    * sides: each interval explodes to its covered buckets, equi-join on
    * bucket, exact overlap as a residual filter. Overlapping pairs meet
    * in every bucket their INTERSECTION covers, so the join dedups on
    * the provided key columns (must uniquely identify rows on each side).
    * Work per pair is bounded by intervalWidth/bucketWidth — pick
    * bucketWidth ≈ typical interval width; empty/inverted intervals
    * produce nothing. */
  def intervalOverlap(
      left: DataFrame, ls: String, le: String,
      right: DataFrame, rs: String, re: String,
      leftKey: String, rightKey: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val lb = buckets(left, ls, le, bucketWidth)
    val rb = buckets(right, rs, re, bucketWidth)
    lb.join(rb, Seq("__bucket"))
      .filter(col(ls) < col(re) && col(rs) < col(le))
      .drop("__bucket")
      .dropDuplicates(leftKey, rightKey)
  }

  /** Each row of `df` once per bucket its `[s, e)` covers. An empty or
    * inverted range (e <= s) covers none: its NULL upper bound makes the
    * range empty instead of fanning it across descending junk buckets. */
  private def buckets(df: DataFrame, s: String, e: String,
      bucketWidth: Long): DataFrame =
    df.withColumn("__bucket", explode(TextOps.upTo(
      expr(s"`$s` div $bucketWidth"),
      when(col(e) > col(s), expr(s"(`$e` - 1) div $bucketWidth")))))
}
