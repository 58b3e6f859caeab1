package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data corpus shaping: overlapping token-window chunking,
  * token-budget sharding via a distributed prefix sum, and greedy
  * sequential sequence packing. These are the operators that turn a
  * deduped/filtered corpus into trainable units at 100 TB.
  *
  * Scale design:
  *  - `chunk` is pure per-row expression work (split/slice/concat_ws
  *    inside whole-stage codegen) — embarrassingly parallel, no shuffle.
  *  - `withTokensBefore` is the classic two-phase distributed prefix sum:
  *    range-partition by id, per-partition local running sums in parallel
  *    windows, plus one tiny (numPartitions-row) offset table broadcast
  *    back. No global single-partition window at any point.
  *  - `packGreedy` is inherently sequential *within* a group (bin reset
  *    depends on the previous row's fill), so it runs as flatMapGroups
  *    with groups processed in parallel; choose the group column (source,
  *    shard, ...) so one group's rows fit an executor. The in-memory
  *    buffer is per-group, never per-partition.
  */
object Packing {

  /** Split each document into token windows of `chunkTokens` advancing by
    * `strideTokens` (overlap = chunkTokens - strideTokens). The final
    * window may be shorter; a document shorter than one window yields a
    * single chunk; blank text yields none.
    * Output: idCol, chunk_id, chunk_text, n_tokens. */
  def chunk(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      "strideTokens must be in [1, chunkTokens]")
    def chunksOf(t: org.apache.spark.sql.Column) = {
      val n = size(t)
      // 1 + ceil(max(0, n - chunk) / stride); ints are far below 2^53 so
      // the floor(double) is exact
      val nChunks = when(n === 0, lit(0)).otherwise(
        (floor((greatest(n - chunkTokens, lit(0)) + (strideTokens - 1))
          / strideTokens) + 1).cast("int"))
      transform(TextOps.upTo(lit(0), nChunks - 1), i => struct(
        i.as("chunk_id"),
        concat_ws(" ", slice(t, i * strideTokens + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), n - i * strideTokens)
          .cast("long").as("n_tokens")))
    }
    df.select(col(idCol),
        TextOps.explodeOnce(TextOps.wsTokens(col(textCol)))(chunksOf).as("__c"))
      .select(col(idCol), col("__c.chunk_id").as("chunk_id"),
        col("__c.chunk_text").as("chunk_text"),
        col("__c.n_tokens").as("n_tokens"))
  }

  /** Add a running total of `nCol` over all rows with a smaller `idCol`
    * (exclusive prefix sum in id order; ids must be unique). Distributed:
    * range-partition by id, local window per partition, broadcast offset
    * join — the result is invariant to partition boundaries. */
  def withTokensBefore(
      df: DataFrame,
      idCol: String,
      nCol: String,
      out: String = "tokens_before"): DataFrame = {
    val part = df.repartitionByRange(col(idCol))
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = part.withColumn("__local_before",
      coalesce(sum(col(nCol).cast("long")).over(wLocal), lit(0L)))
    // tiny per-partition totals (numPartitions rows) — the single-
    // partition window here is over that tiny set, not the data
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = part.groupBy("__pid")
      .agg(sum(col(nCol).cast("long")).as("__tot"))
      .withColumn("__off", coalesce(sum("__tot").over(wOff), lit(0L)))
      .select("__pid", "__off")
    local.join(broadcast(offsets), "__pid")
      .withColumn(out, col("__local_before") + col("__off"))
      .drop("__pid", "__local_before")
  }

  /** Per-group exclusive prefix sum of `nCol` in `orderCol` order (keys
    * must be unique within a group). Same two-phase shape as
    * `withTokensBefore`: range-partition on (group, key) so each
    * partition holds contiguous key runs, local windows per
    * (partition, group) in parallel, then a tiny
    * (numPartitions × numGroups)-row per-group offset table broadcast
    * back — no per-group global window, so one giant group cannot pin a
    * single reducer. NULL groups form their own group (null-safe join). */
  def withTokensBeforePerGroup(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      nCol: String,
      out: String = "tokens_before"): DataFrame = {
    val part = df.repartitionByRange(col(groupCol), col(orderCol))
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = part.withColumn("__local_before",
      coalesce(sum(col(nCol).cast("long")).over(wLocal), lit(0L)))
    // per-(partition, group) totals — numPartitions × numGroups rows
    val wOff = Window.partitionBy(col("__g")).orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = part.groupBy(col("__pid"), col(groupCol).as("__g"))
      .agg(sum(col(nCol).cast("long")).as("__tot"))
      .withColumn("__off", coalesce(sum("__tot").over(wOff), lit(0L)))
      .select(col("__pid").as("__opid"), col("__g"), col("__off"))
    local.join(broadcast(offsets),
        col("__pid") === col("__opid") && col(groupCol) <=> col("__g"))
      .withColumn(out, col("__local_before") + col("__off"))
      .drop("__pid", "__opid", "__g", "__local_before")
  }

  /** Assign each row a shard id so consecutive (by id) runs of documents
    * land together and every shard holds ~`budgetTokens` tokens: shard =
    * floor(tokens_before / budget). A document straddling a boundary
    * stays in the shard where its run began. */
  def shardByTokenBudget(
      df: DataFrame,
      idCol: String,
      nCol: String,
      budgetTokens: Long,
      out: String = "shard",
      tokensBeforeOut: String = "tokens_before"): DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    withTokensBefore(df, idCol, nCol, tokensBeforeOut)
      .withColumn(out,
        floor(col(tokensBeforeOut) / budgetTokens).cast("long"))
  }

  /** Greedy sequential packing: within each group (in ascending id
    * order), append the document to the current bin if it fits
    * (fill + n <= budget), else open a new bin. A document larger than
    * the budget gets a bin of its own. Bins are numbered from 0 per
    * group. Output: groupCol, idCol, n (long), bin.
    *
    * Groups run in parallel; each group is buffered and sorted in
    * memory, so pick groupCol (source, shard from shardByTokenBudget,
    * ...) such that one group's rows fit an executor — that is the same
    * contract as any PTF over a partition. */
  def packGreedy(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      nCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val slim: Dataset[(String, Long, Long)] = df.select(
      col(groupCol).cast("string"),
      col(idCol).cast("long"),
      col(nCol).cast("long")).as[(String, Long, Long)]
    slim.groupByKey(_._1)
      .flatMapGroups { (g, rows) =>
        val sorted = rows.toArray.sortBy(_._2)
        var bin = 0L
        var fill = 0L
        var first = true
        sorted.iterator.map { case (_, id, n) =>
          if (first) { first = false; fill = n }
          else if (fill + n <= budgetTokens) fill += n
          else { bin += 1; fill = n }
          (g, id, n, bin)
        }
      }
      .toDF(groupCol, idCol, "n", "bin")
  }
}
