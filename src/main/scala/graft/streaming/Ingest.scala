package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.WorkingSet.{pin, release, using}
import graft.operators.Dedup

/** Structured-Streaming ingest facade — the Spark-native equivalent of
  * Hive's transactional streaming ingest API (reference:
  * hcatalog/streaming/src/java/org/apache/hive/hcatalog/streaming/
  * HiveEndPoint.java, TransactionBatch.java: begin/write/commit batches
  * appending ORC deltas to ACID tables). Structured Streaming's
  * checkpointed micro-batches give the same contract — exactly-once,
  * continuously committed appends into a table — with watermarks/windows
  * as additive capability the reference lacks (SURVEY §2.7).
  */
object Ingest {

  /** A table endpoint for continuous append — HiveEndPoint equivalent.
    * Each micro-batch is one "transaction batch": committed atomically,
    * replayed exactly-once from the checkpoint on restart. */
  final case class Endpoint(table: String, checkpointDir: String)

  /** Open a continuous append from a streaming DataFrame into the
    * endpoint's table (StreamingConnection.write equivalent). */
  def startAppend(
      stream: DataFrame,
      ep: Endpoint,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ep.checkpointDir)
      .trigger(trigger)
      .toTable(ep.table)

  /** File-drop ingest: watch a directory of parquet part files (the
    * DelimitedInputWriter/StrictJsonWriter role) and append to a table. */
  def ingestDirectory(
      spark: SparkSession,
      sourceDir: String,
      schemaSample: String,
      ep: Endpoint): StreamingQuery = {
    val schema = spark.read.parquet(schemaSample).schema
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    startAppend(stream, ep)
  }

  /** Watermarked tumbling-window aggregation over an event stream —
    * additive streaming analytics (no reference counterpart; Hive 1.2 has
    * no stream operators). Late rows beyond the watermark are dropped. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream-stream time-bounded equi-join: rows from the two streams
    * match on `keyCol` when their event times are within `joinWindow`
    * of each other; watermarks bound the buffered state on both sides
    * (additive capability — the reference has no stream operators;
    * SURVEY §2.7). Output columns: key, l_ts, r_ts, then the remaining
    * left/right columns prefixed l_/r_. */
  def streamJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      watermarkDelay: String,
      joinWindow: String,
      joinType: String = "inner"): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame =
      df.withWatermark(tsCol, watermarkDelay)
        .select(col(keyCol).as(if (p == "l") keyCol else s"${p}_$keyCol") +:
          df.columns.filterNot(_ == keyCol).map(c => col(c).as(s"${p}_$c")): _*)
    val l = side(left, "l")
    val r = side(right, "r")
    // outer variants are legal because both sides carry watermarks and
    // the join has a two-sided time bound: state for an unmatched row is
    // held until the watermark passes its window, THEN the null-extended
    // row emits — late output, not lost output
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol").between(
          expr(s"l_$tsCol - INTERVAL $joinWindow"),
          expr(s"l_$tsCol + INTERVAL $joinWindow")),
      joinType)
      // right-only rows of the outer variants carry their key ONLY in
      // r_<key> — coalesce before dropping it, or the emitted row's key
      // is silently NULL and the amount is unattributable
      .withColumn(keyCol, coalesce(col(keyCol), col(s"r_$keyCol")))
      .drop(s"r_$keyCol")
  }

  /** Continuous keyed upsert into a table via foreachBatch — the
    * streaming MERGE pattern (reference analogue: Hive streaming
    * mutation API, hcatalog/streaming/mutate): each micro-batch keeps
    * its latest row per key (by `orderCol`, NULL orders rank lowest),
    * replaces same-key rows in the target (NULL keys match null-safely),
    * appends new keys. The merge is idempotent per key, so checkpointed
    * batch replays converge. The table rewrite itself is staged but not
    * transactional (plain parquet, no ACID table format): a crash
    * between the stage and the final commit can leave the target
    * needing a rebuild — the same caveat as any non-ACID INSERT
    * OVERWRITE. */
  def startUpsert(
      stream: DataFrame,
      ep: Endpoint,
      keyCols: Seq[String],
      orderCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", ep.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions._
        val all = struct(batch.columns.map(col): _*)
        // isNotNull under max_by: real order values must outrank NULLs
        val ord = struct(col(orderCol).isNotNull.as("_has"), col(orderCol).as("_v"))
        val latest = batch
          .groupBy(keyCols.map(col): _*)
          .agg(max_by(all, ord).as("_row"))
          .select(batch.columns.map(c => col(s"_row.$c").as(c)): _*)
        if (!spark.catalog.tableExists(ep.table)) {
          latest.write.saveAsTable(ep.table)
        } else {
          val current = spark.table(ep.table)
          // null-safe anti join: a NULL key must REPLACE the existing
          // NULL-key row, not accumulate one duplicate per batch
          val keys = latest.select(
            keyCols.map(c => col(c).as(s"_k_$c")): _*)
          val cond = keyCols.map(c => col(c) <=> col(s"_k_$c")).reduce(_ && _)
          val merged = current
            .join(keys, cond, "left_anti")
            .unionByName(latest)
          graft.Warehouse.overwriteUnpartitioned(spark, ep.table, merged)
        }
        ()
      }
      .start()

  /** Streaming materialized-aggregate maintenance: each micro-batch's
    * partial aggregate (`Cdc.aggregateSnapshot`) merges into the
    * endpoint table via `Cdc.mergeSnapshots`, so the stored aggregate
    * stays equal to a full recompute over everything ingested — without
    * ever rescanning history. Additive state is NOT replay-idempotent
    * by itself (re-adding a batch double-counts), so the snapshot
    * carries the last applied batch id and a replayed batch is skipped
    * — the standard foreachBatch exactly-once recipe, same transactional
    * caveat as `startUpsert` (staged, non-ACID overwrite). */
  def startAggMaintenance(
      stream: DataFrame,
      ep: Endpoint,
      keyCols: Seq[String],
      valCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", ep.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Cdc
        val snap = Cdc.aggregateSnapshot(batch, keyCols, valCols)
        if (!spark.catalog.tableExists(ep.table)) {
          snap.withColumn("_batch_id", lit(batchId))
            .write.saveAsTable(ep.table)
        } else {
          val current = spark.table(ep.table)
          // coalesce: an empty first batch leaves a 0-row table whose
          // max is NULL — treat as "nothing applied yet"
          val applied = current.agg(coalesce(max("_batch_id"), lit(-1L)))
            .collect().head.getLong(0)
          if (batchId > applied) {
            val merged = Cdc.mergeSnapshots(
              current.drop("_batch_id"), snap, keyCols, valCols)
            graft.Warehouse.overwriteUnpartitioned(spark, ep.table,
              merged.withColumn("_batch_id", lit(batchId)))
          }
        }
        ()
      }
      .start()

  /** Streaming SCD Type-2 dimension maintenance: each micro-batch of
    * change rows folds into the stored versioned history with
    * `Cdc.scdType2Apply` — cost ∝ (keys touched by the batch + batch),
    * never a history rescan, and the maintained table stays equal to
    * `Cdc.scdType2` over everything ingested (spec-pinned). Batches
    * must be strictly later than the stored history per key
    * (scdType2Apply's contract — late data fails the batch loudly
    * instead of corrupting version order). `_batch_id` replay guard and
    * staged overwrite as in `startAggMaintenance`. `orderCols` is the
    * batch ordering (head = the `valid_from` source, rest tiebreaks). */
  def startScd2Maintenance(
      stream: DataFrame,
      ep: Endpoint,
      keyCols: Seq[String],
      orderCols: Seq[String],
      attrCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", ep.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Cdc
        if (!spark.catalog.tableExists(ep.table)) {
          Cdc.scdType2(batch, keyCols, orderCols, attrCols)
            .withColumn("_batch_id", lit(batchId))
            .write.saveAsTable(ep.table)
        } else {
          val current = spark.table(ep.table)
          val applied = current.agg(coalesce(max("_batch_id"), lit(-1L)))
            .collect().head.getLong(0)
          if (batchId > applied) {
            val next = Cdc.scdType2Apply(
              current.drop("_batch_id"), batch, keyCols, orderCols, attrCols)
            graft.Warehouse.overwriteUnpartitioned(spark, ep.table,
              next.withColumn("_batch_id", lit(batchId)))
          }
        }
        ()
      }
      .start()

  /** Streaming maintenance of a per-key count-min sketch table: each
    * micro-batch builds its own sketch (one combinable aggregate over
    * the batch) and folds it into the stored one with `cm_merge` —
    * counts are additive, so the maintained sketch is BYTE-IDENTICAL
    * to a batch build over everything ingested, and the `_batch_id`
    * guard makes replay after a crash idempotent (the
    * startAggMaintenance discipline). The always-current answer to
    * "how often has key x appeared in the stream so far" in d×w longs
    * per group — no per-key state store, no growing table.
    *
    * `keyCols` empty maintains ONE global sketch row. */
  def startSketchMaintenance(
      stream: DataFrame,
      ep: Endpoint,
      valueCol: String,
      keyCols: Seq[String] = Nil,
      width: Int = 2719,
      depth: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.{CountMinAgg, CountMinMerge}
    def build(c: Column) =
      toCol(CountMinAgg(toExpr(c), width, depth).toAggregateExpression())
    def merge(a: Column, b: Column) =
      toCol(CountMinMerge(toExpr(a), toExpr(b)))
    stream.writeStream
      .option("checkpointLocation", ep.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ks = if (keyCols.nonEmpty) keyCols else Seq("__global")
        val keyed =
          if (keyCols.nonEmpty) batch
          else batch.withColumn("__global", lit(0))
        val snap = keyed.groupBy(ks.map(col): _*)
          .agg(build(col(valueCol)).as("sketch"))
        if (!spark.catalog.tableExists(ep.table)) {
          snap.withColumn("_batch_id", lit(batchId))
            .write.saveAsTable(ep.table)
        } else {
          val current = spark.table(ep.table)
          val applied = current.agg(coalesce(max("_batch_id"), lit(-1L)))
            .collect().head.getLong(0)
          if (batchId > applied) {
            // null-safe key equality: the NULL group is one group
            val cur = current.drop("_batch_id")
              .withColumnRenamed("sketch", "__cur")
            val joined = cur.join(snap,
              ks.map(k => cur(k) <=> snap(k)).reduce(_ && _),
              "full_outer")
            val merged = joined.select(
              ks.map(k => coalesce(snap(k), cur(k)).as(k)) :+
                when(cur("__cur").isNull, snap("sketch"))
                  .when(snap("sketch").isNull, cur("__cur"))
                  .otherwise(merge(cur("__cur"), snap("sketch")))
                  .as("sketch"): _*)
            graft.Warehouse.overwriteUnpartitioned(spark, ep.table,
              merged.withColumn("_batch_id", lit(batchId)))
          }
        }
        ()
      }
      .start()
  }

  /** Streaming NEAR-dup filtering against a stored MinHash index — the
    * online arm of `Dedup.minhashAgainstIndex`: each micro-batch is
    * sketched, probed against the index, and only documents with no
    * near-dup (jaccard ≥ threshold) in the index are appended to the
    * endpoint's table. `growIndex = true` also folds every batch's OWN
    * sketches into the (in-memory) index held by `index`, so later
    * batches dedup against earlier ones too — the continuous-crawl shape,
    * where the corpus only ever grows by novel documents.
    *
    * Residency: each batch's working frames are released once its append
    * is written; the only blocks a batch leaves behind are its novel
    * documents' sketches, pinned into the grown index (free them with
    * `WorkingSet.release` on the index frames once the stream is done).
    * Scale notes: the starting index frames are the caller's (scoped
    * working set or parquet-backed); per batch the work is O(batch +
    * matched buckets), identical to the batch prober. Growth is by plan
    * union, so for very long streams compact periodically (write
    * `index.get()` to parquet and restart from the re-read frames — plan
    * depth resets to 1).
    * Exactly-once: the checkpoint replays
    * a crashed batch, and re-appending a filtered batch is idempotent
    * only if the downstream table dedups — pair with `startUpsert` or an
    * id-keyed sink when replays must not duplicate novel docs. */
  def startDedupedAppend(
      stream: DataFrame,
      ep: Endpoint,
      idCol: String,
      textCol: String,
      index: java.util.concurrent.atomic.AtomicReference[Dedup.MinHashIndex],
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      growIndex: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // the growing index is session state, swapped per batch (micro-batches
    // of one query never overlap; the atomic handoff keeps it safe if two
    // queries share an index by mistake)
    stream.writeStream
      .option("checkpointLocation", ep.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val idx = index.get()
        // same-batch duplicates are the common case in a continuous crawl:
        // self-dedup the batch first (canonical smallest-id keep per
        // near-dup cluster) — probing only batch-vs-index would admit
        // every intra-batch copy as "novel"
        val selfPairs = Dedup.minhashNearDups(batch, idCol, textCol,
          idx.shingleSize, idx.numHashes, idx.bands, threshold, maxBucket)
        val selfDeduped = Dedup.dedupByCluster(
          batch, idCol, selfPairs, "id_a", "id_b")
        val dups = Dedup
          .minhashAgainstIndex(selfDeduped, idCol, textCol, idx, threshold,
            maxBucket)
          .select(col("new_id").as(idCol)).distinct()
        val novel = pin(selfDeduped.join(dups, Seq(idCol), "left_anti"))
        if (spark.catalog.tableExists(ep.table))
          novel.write.mode("append").saveAsTable(ep.table)
        else novel.write.saveAsTable(ep.table)
        if (growIndex && !novel.isEmpty) {
          // the batch's sketches outlive `novel`, so they are pinned
          val add = Dedup.buildMinhashIndex(novel, idCol, textCol,
            idx.shingleSize, idx.numHashes, idx.bands)
          val (shingled, banded) = using(add.shingled) {
            (pin(add.shingled), pin(add.banded))
          }
          index.set(idx.copy(
            shingled = idx.shingled.unionByName(shingled),
            banded = idx.banded.unionByName(banded)))
        }
        // release(selfDeduped) frees the cluster labels it reads
        Seq(novel, dups, selfDeduped, selfPairs).foreach(release)
      }
      .start()
  }

  /** Streaming exact dedup — the streaming counterpart of
    * `operators.Dedup.exact`: duplicates of a key arriving within the
    * watermark window are dropped; dedup state is evicted once the
    * watermark passes, so state stays bounded on unbounded streams
    * (dropDuplicatesWithinWatermark's contract). */
  def dedupStream(
      stream: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermarkDelay: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, end: Long, n: Int, total: Double)
  final case class Session(
      user_id: Long, start_ms: Long, end_ms: Long, n_events: Int, total: Double)

  /** Session windows via flatMapGroupsWithState (KeyValueGroupedDataset) —
    * custom state machine: a session closes after `gapMs` of inactivity.
    * The batch's events are sorted and split into runs wherever the
    * event-time gap exceeds `gapMs` (two sessions arriving in one
    * micro-batch — e.g. Trigger.AvailableNow or replay — must NOT merge;
    * same semantics as sessionizeBatch). Closed runs are emitted final;
    * the last run stays in state (emitted as an in-progress update) with
    * a processing-time timeout driving its eventual close. */
  def sessionize(
      events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.end, s.n, s.total))
          } else {
            val evs = rows.toSeq.sortBy(_.ts.getTime)
            var runs = state.getOption.toVector
            for (e <- evs) {
              val t = e.ts.getTime
              runs = runs.lastOption match {
                case Some(r) if t - r.end <= gapMs =>
                  // a late event may precede the stored run's start —
                  // extend backwards too (sessionizeBatch over the same
                  // rows reports the true earliest timestamp)
                  runs.init :+ SessionState(math.min(r.start, t),
                    math.max(r.end, t), r.n + 1, r.total + e.value)
                case _ =>
                  runs :+ SessionState(t, t, 1, e.value)
              }
            }
            if (runs.isEmpty) Iterator.empty
            else {
              state.update(runs.last)
              state.setTimeoutDuration(gapMs)
              runs.iterator.map(s => Session(user, s.start, s.end, s.n, s.total))
            }
          }
      }
  }

  /** Batch-mode sessionization with the same gap semantics (lag + running
    * session ids) — the query-able counterpart used for verification. */
  def sessionizeBatch(
      events: DataFrame, userCol: String, tsCol: String,
      gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val ms = (unix_millis(col(tsCol))).as("ts_ms")
    events
      .select(col(userCol).as("user_id"), ms, col("value"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value")).as("total"))
  }
}
