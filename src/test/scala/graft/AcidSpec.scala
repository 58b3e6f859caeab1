package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ACID delta-file layout: event-log writes, read-time merge, compactor
  * (initiator/worker/cleaner), crash-safe staging. Layout semantics per
  * the reference's AcidUtils/OrcRecordUpdater (see Acid.scala scaladoc). */
object AcidSpec {
  // referenced from a UDF body by object name so the task's deserialized
  // closure still sees the ONE latch (local mode serializes closures)
  @volatile var meetLatch: java.util.concurrent.CountDownLatch = _
}

class AcidSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-acid-spec").toString

  private def dirs(path: String): Seq[String] =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("k", "s", "v").as[(Long, String, Double)].collect().toSet

  private def seed(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"),
      concat(lit("s"), col("id") % 3).as("s"),
      (col("id") * 1.5).as("v"))

  test("insert txns append deltas; snapshot is their union") {
    val t = tmpTable()
    Acid.create(t)
    assert(Acid.insertTxn(spark, t, seed(10)) == 1L)
    assert(Acid.insertTxn(spark, t, seed(20).filter($"k" >= 10)) == 2L)
    assert(dirs(t) == Seq("delta_0000001_0000001", "delta_0000002_0000002"))
    assert(rows(Acid.snapshot(spark, t)) == rows(seed(20)))
  }

  test("update/delete write O(changed) events and merge correctly") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(100))
    Acid.updateTxn(spark, t, Map("v" -> "v * 2"), "k % 10 = 3")
    Acid.deleteTxn(spark, t, "k % 10 = 7")
    // delta sizes prove the O(changes) write: 10 events each, not 100
    val upd = spark.read.parquet(s"$t/delta_0000002_0000002")
    val del = spark.read.parquet(s"$t/delta_0000003_0000003")
    assert(upd.count() == 10 && del.count() == 10)
    assert(del.filter(col("row").isNotNull).count() == 0) // delete: row NULL
    val expected = seed(100)
      .withColumn("v", when($"k" % 10 === 3, $"v" * 2).otherwise($"v"))
      .filter($"k" % 10 =!= 7)
    assert(rows(Acid.snapshot(spark, t)) == rows(expected))
  }

  test("repeated updates on one row: highest write id wins") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(5))
    Acid.updateTxn(spark, t, Map("v" -> "100.0"), "k = 2")
    Acid.updateTxn(spark, t, Map("v" -> "v + 1"), "k = 2") // sees 100.0
    val got = Acid.snapshot(spark, t).filter($"k" === 2)
      .select("v").as[Double].head()
    assert(got == 101.0)
    // the row identity survived both updates: same ROW__ID as at insert
    val ids = Acid.snapshotWithRowId(spark, t)
      .filter($"k" === 2).select($"row__id.originalTransaction").as[Long]
      .collect().toSeq
    assert(ids == Seq(1L))
  }

  test("update honors simultaneous assignment (SET a=b, b=a swaps)") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t,
      Seq((1L, "x", 1.0, 2.0)).toDF("k", "s", "v", "w"))
    Acid.updateTxn(spark, t, Map("v" -> "w", "w" -> "v"), "k = 1")
    val (v, w) = Acid.snapshot(spark, t).select("v", "w")
      .as[(Double, Double)].head()
    assert(v == 2.0 && w == 1.0)
  }

  test("minor compaction merges deltas; originals ignored then cleaned") {
    val t = tmpTable()
    Acid.create(t)
    (1 to 4).foreach(i =>
      Acid.insertTxn(spark, t, seed(i * 10).filter($"k" >= (i - 1) * 10)))
    val before = rows(Acid.snapshot(spark, t))
    Acid.compactMinor(spark, t)
    // worker done, cleaner not yet run: merged delta + originals coexist,
    // and the reader must not double-count events
    assert(dirs(t).contains("delta_0000001_0000004") && dirs(t).size == 5)
    assert(rows(Acid.snapshot(spark, t)) == before)
    Acid.clean(t)
    assert(dirs(t) == Seq("delta_0000001_0000004"))
    assert(rows(Acid.snapshot(spark, t)) == before)
  }

  test("major compaction resolves to a base that keeps ROW__IDs") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(50))
    Acid.updateTxn(spark, t, Map("s" -> "'upd'"), "k < 5")
    Acid.deleteTxn(spark, t, "k >= 45")
    val idsBefore = Acid.snapshotWithRowId(spark, t)
      .select($"k", $"row__id").as[(Long, (Long, Int, Long))].collect().toMap
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    assert(dirs(t) == Seq("base_0000003"))
    val after = Acid.snapshotWithRowId(spark, t)
    val idsAfter = after.select($"k", $"row__id")
      .as[(Long, (Long, Int, Long))].collect().toMap
    assert(idsAfter == idsBefore) // compaction never renumbers a live row
    // and post-base mutations still resolve against the base
    Acid.deleteTxn(spark, t, "k = 0")
    assert(Acid.snapshot(spark, t).count() == 44)
  }

  test("initiator heuristic: none below threshold, major with no base") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))
    assert(Acid.maybeCompact(spark, t, minDeltas = 3) == "none")
    Acid.insertTxn(spark, t, seed(20).filter($"k" >= 10))
    Acid.deleteTxn(spark, t, "k = 1")
    // 3 deltas, no base -> major
    assert(Acid.maybeCompact(spark, t, minDeltas = 3) == "major")
    Acid.clean(t)
    assert(dirs(t) == Seq("base_0000003"))
    // small deltas against a base -> minor at a generous ratio
    Acid.deleteTxn(spark, t, "k = 2")
    Acid.deleteTxn(spark, t, "k = 3")
    assert(Acid.maybeCompact(spark, t, minDeltas = 2, ratio = 1e9) == "minor")
  }

  test("crash-staged _tmp dirs are invisible to readers and write ids") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))
    // simulate a writer that died before its atomic rename
    new File(t, "_tmp_delta_0000002_0000002").mkdirs()
    assert(rows(Acid.snapshot(spark, t)) == rows(seed(10)))
    assert(Acid.nextWriteId(t) == 2L)
  }

  test("MERGE INTO is one delta txn: update + delete + insert events") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))
    val src = Seq(
      (2L, "keep", 100.0),   // matched, v>=0  -> update
      (3L, "kill", -1.0),    // matched, v<0   -> delete
      (42L, "new", 7.0))     // unmatched      -> insert
      .toDF("sk", "ss", "sv")
    val w = Acid.mergeTxn(spark, t, src, "s", "t", "t.k = s.sk",
      matched = Seq(
        Warehouse.MatchedDelete(Some("s.sv < 0")),
        Warehouse.MatchedUpdate(None, Map("s" -> "s.ss", "v" -> "s.sv"))),
      notMatched = Some(Warehouse.NotMatchedInsert(None,
        Seq("s.sk", "s.ss", "s.sv"))))
    assert(w == 2L && dirs(t).size == 2) // everything in ONE delta
    val got = rows(Acid.snapshot(spark, t))
    val expected = rows(seed(10).filter($"k" =!= 3)
      .withColumn("s", when($"k" === 2, lit("keep")).otherwise($"s"))
      .withColumn("v", when($"k" === 2, lit(100.0)).otherwise($"v"))) +
      ((42L, "new", 7.0))
    assert(got == expected)
  }

  test("MERGE cardinality violation (two source matches) is rejected") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(5))
    val src = Seq((2L, "a", 1.0), (2L, "b", 2.0)).toDF("sk", "ss", "sv")
    val e = intercept[IllegalArgumentException] {
      Acid.mergeTxn(spark, t, src, "s", "t", "t.k = s.sk",
        matched = Seq(Warehouse.MatchedUpdate(None, Map("s" -> "s.ss"))),
        notMatched = None)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("streaming insert txns are exactly-once across replay + compaction") {
    val t = tmpTable()
    Acid.create(t)
    assert(Acid.streamingInsertTxn(spark, t, seed(10), batchId = 0).isDefined)
    assert(Acid.streamingInsertTxn(spark, t,
      seed(20).filter($"k" >= 10), batchId = 1).isDefined)
    // crash replay of batch 1: skipped
    assert(Acid.streamingInsertTxn(spark, t,
      seed(20).filter($"k" >= 10), batchId = 1).isEmpty)
    assert(rows(Acid.snapshot(spark, t)) == rows(seed(20)))
    // the committed watermark survives compaction + clean
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    assert(Acid.lastCommittedBatch(t) == 1L)
    assert(Acid.streamingInsertTxn(spark, t,
      seed(20).filter($"k" >= 10), batchId = 1).isEmpty)
    assert(Acid.streamingInsertTxn(spark, t,
      seed(25).filter($"k" >= 20), batchId = 2).isDefined)
    assert(Acid.snapshot(spark, t).count() == 25)
  }

  test("foreachBatch sink commits each micro-batch as one delta") {
    val t = tmpTable()
    val ckpt = Files.createTempDirectory("graft-acid-ckpt").toString
    Acid.create(t)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, Double)](spark, 1)
    input.addData((1L, "a", 1.0), (2L, "b", 2.0))
    // continuous trigger: AvailableNow would terminate after draining
    // the first batch, never seeing data added later in the test
    val q = Acid.startStreamingInsert(
      input.toDF().toDF("k", "s", "v"), t, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q.processAllAvailable()
    input.addData((3L, "c", 3.0))
    q.processAllAvailable()
    q.stop()
    assert(rows(Acid.snapshot(spark, t)) ==
      Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    assert(Acid.lastCommittedBatch(t) >= 1L)
  }

  test("partitioned layout: per-partition delta trees, global write ids") {
    val t = tmpTable()
    Acid.create(t)
    val df = seed(30).withColumn("p", ($"k" % 3).cast("int"))
    Acid.insertTxn(spark, t, df, partitionBy = Seq("p"))
    assert(dirs(t).toSet == Set("p=0", "p=1", "p=2"))
    assert(dirs(s"$t/p=1") == Seq("delta_0000001_0000001"))
    // partition values live in the directory, not the stored rows
    val stored = spark.read.parquet(s"$t/p=1/delta_0000001_0000001")
    assert(!stored.columns.contains("p") &&
      !stored.select("row.*").columns.contains("p"))
    // snapshot restores them, and a second txn gets a global write id
    val snap = Acid.snapshotWithRowId(spark, t)
    assert(snap.columns.contains("p"))
    assert(Acid.insertTxn(spark, t,
      seed(40).filter($"k" >= 30).withColumn("p", ($"k" % 3).cast("int"))) == 2L)
    assert(Acid.snapshot(spark, t).count() == 40)
    assert(Acid.snapshot(spark, t).filter($"p" === 1)
      .select("k").as[Long].collect().toSet ==
      (0L until 40L).filter(_ % 3 == 1).toSet)
  }

  test("partitioned update/delete route events to the row's partition") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t,
      seed(30).withColumn("p", ($"k" % 3).cast("int")),
      partitionBy = Seq("p"))
    Acid.updateTxn(spark, t, Map("v" -> "v * 2"), "p = 1")
    Acid.deleteTxn(spark, t, "p = 2 AND k < 10")
    // only the touched partitions got new deltas
    assert(dirs(s"$t/p=0") == Seq("delta_0000001_0000001"))
    assert(dirs(s"$t/p=1").contains("delta_0000002_0000002"))
    assert(dirs(s"$t/p=2").contains("delta_0000003_0000003"))
    val expected = seed(30)
      .withColumn("p", ($"k" % 3).cast("int"))
      .withColumn("v", when($"p" === 1, $"v" * 2).otherwise($"v"))
      .filter(!($"p" === 2 && $"k" < 10))
    assert(rows(Acid.snapshot(spark, t)) == rows(expected))
    // partition columns are immutable under UPDATE (Hive rule)
    val e = intercept[IllegalArgumentException] {
      Acid.updateTxn(spark, t, Map("p" -> "0"), "k = 1")
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("partitioned compaction + clean run per partition") {
    val t = tmpTable()
    Acid.create(t)
    (0 until 3).foreach { i =>
      Acid.insertTxn(spark, t,
        seed((i + 1) * 10).filter($"k" >= i * 10)
          .withColumn("p", ($"k" % 2).cast("int")),
        partitionBy = Seq("p"))
    }
    val before = rows(Acid.snapshot(spark, t))
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    // each partition carries its own base at ITS high watermark
    assert(dirs(s"$t/p=0") == Seq("base_0000003"))
    assert(dirs(s"$t/p=1") == Seq("base_0000003"))
    assert(rows(Acid.snapshot(spark, t)) == before)
    // post-compaction mutations still resolve
    Acid.deleteTxn(spark, t, "k = 0")
    assert(Acid.snapshot(spark, t).count() == 29)
    // per-partition initiator: only p=0 (which got the delete delta)
    // has anything to consider; p=1 is base-only
    val acts = Acid.maybeCompactPartitions(spark, t, minDeltas = 1)
    assert(acts.keySet == Set("p=0", "p=1"))
    assert(acts("p=1") == "none" && acts("p=0") != "none")
  }

  test("partitioned snapshot prunes unselected partitions at the scan") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t,
      seed(40).withColumn("p", ($"k" % 4).cast("int")),
      partitionBy = Seq("p"))
    val pruned = Acid.snapshot(spark, t).filter($"p" === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    // the partition predicate must reach the scan as a PartitionFilter
    // (directory-level pruning), not survive as a post-scan Filter only
    assert(plan.contains("PartitionFilters: [isnotnull(p"),
      s"no partition filter in:\n$plan")
    assert(pruned.count() == 10)
  }

  test("partitioned MERGE routes update/delete/insert events correctly") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t,
      seed(10).withColumn("p", ($"k" % 2).cast("int")),
      partitionBy = Seq("p"))
    val src = Seq(
      (2L, "keep", 100.0),  // matched (p=0) -> update
      (3L, "kill", -1.0),   // matched (p=1) -> delete
      (41L, "new", 7.0))    // unmatched     -> insert into p=1
      .toDF("sk", "ss", "sv")
    Acid.mergeTxn(spark, t, src, "s", "t", "t.k = s.sk",
      matched = Seq(
        Warehouse.MatchedDelete(Some("s.sv < 0")),
        Warehouse.MatchedUpdate(None, Map("s" -> "s.ss", "v" -> "s.sv"))),
      notMatched = Some(Warehouse.NotMatchedInsert(None,
        Seq("s.sk", "s.ss", "s.sv", "cast(s.sk % 2 as int)"))))
    val got = Acid.snapshot(spark, t)
    assert(got.filter($"k" === 2).select("s").as[String].head() == "keep")
    assert(got.filter($"k" === 3).count() == 0)
    assert(got.filter($"k" === 41).select("p").as[Int].head() == 1)
    assert(got.count() == 10)
  }

  test("in-place adoption: snapshot over a plain parquet dir just works") {
    val t = tmpTable()
    seed(50).repartition(3).write.mode("overwrite").parquet(t)
    // pre-ACID originals readable as-is, with synthesized ROW__IDs
    assert(rows(Acid.snapshot(spark, t)) == rows(seed(50)))
    val ids = Acid.snapshotWithRowId(spark, t).select("row__id")
    assert(ids.distinct().count() == 50)
    assert(ids.select("row__id.originalTransaction").distinct()
      .as[Long].collect().toSeq == Seq(0L))
    // identities are stable across reads: delete via predicate, re-read
    Acid.deleteTxn(spark, t, "k < 10")
    Acid.updateTxn(spark, t, Map("v" -> "v + 1"), "k = 20")
    val expected = seed(50).filter($"k" >= 10)
      .withColumn("v", when($"k" === 20, $"v" + 1).otherwise($"v"))
    assert(rows(Acid.snapshot(spark, t)) == rows(expected))
    // first major compaction folds originals into a base; cleaner drops
    // the original files
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    assert(dirs(t) == Seq("base_0000002"))
    // only reader-invisible sidecars (_SUCCESS, .crc) may remain
    assert(new File(t).listFiles().count(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")) == 0)
    assert(rows(Acid.snapshot(spark, t)) == rows(expected))
  }

  test("partitioned adoption: per-partition originals, pruning intact") {
    val t = tmpTable()
    seed(40).withColumn("p", ($"k" % 2).cast("int"))
      .write.partitionBy("p").mode("overwrite").parquet(t)
    val all = seed(40).withColumn("p", ($"k" % 2).cast("int"))
    assert(rows(Acid.snapshot(spark, t)) == rows(all))
    assert(Acid.snapshot(spark, t).filter($"p" === 1).count() == 20)
    Acid.deleteTxn(spark, t, "p = 0 AND k < 10")
    // only p=0 got a delta; p=1 is still originals-only
    assert(dirs(s"$t/p=0").nonEmpty && dirs(s"$t/p=1").isEmpty)
    val expected = all.filter(!($"p" === 0 && $"k" < 10))
    assert(rows(Acid.snapshot(spark, t)) == rows(expected))
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    assert(dirs(s"$t/p=0") == Seq("base_0000001"))
    // p=1 had no deltas (w=0): originals stay until something to compact
    assert(rows(Acid.snapshot(spark, t)) == rows(expected))
  }

  test("delta-free snapshots bypass the merge: no shuffle, no aggregate") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(30))
    Acid.deleteTxn(spark, t, "k < 5")
    // with deltas: the merge aggregate is required
    val dirtyPlan = Acid.snapshot(spark, t)
      .queryExecution.executedPlan.toString
    assert(dirtyPlan.contains("max_by"))
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    // fully compacted: plain projection over the base, zero exchanges
    val cleanDf = Acid.snapshot(spark, t)
    val cleanPlan = cleanDf.queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("Exchange") && !cleanPlan.contains("max_by"),
      s"merge not bypassed:\n$cleanPlan")
    assert(rows(cleanDf) == rows(seed(30).filter($"k" >= 5)))
    // adopted originals with no deltas bypass too (broadcast of the
    // file->bucket map is the only exchange; no shuffle, no aggregate)
    val t2 = tmpTable()
    seed(20).write.mode("overwrite").parquet(t2)
    val adoptedPlan = Acid.snapshot(spark, t2)
      .queryExecution.executedPlan.toString
    assert(!adoptedPlan.contains("Exchange hashpartitioning") &&
      !adoptedPlan.contains("max_by"), s"not bypassed:\n$adoptedPlan")
    // partitioned mix: only the delta-bearing partition pays the merge
    val t3 = tmpTable()
    Acid.create(t3)
    Acid.insertTxn(spark, t3,
      seed(20).withColumn("p", ($"k" % 2).cast("int")),
      partitionBy = Seq("p"))
    Acid.compactMajor(spark, t3)
    Acid.clean(t3)
    Acid.deleteTxn(spark, t3, "p = 1 AND k = 1")
    val mixed = Acid.snapshot(spark, t3)
    assert(rows(mixed) == rows(seed(20).filter($"k" =!= 1)))
    val mixedPlan = mixed.queryExecution.executedPlan.toString
    // one merge branch (the p=1 side) unioned with a bypass branch
    assert(mixedPlan.contains("max_by") && mixedPlan.contains("Union"))
  }

  test("streaming upsert txns: latest-per-key, replay-safe, bootstrap") {
    val t = tmpTable()
    Acid.create(t)
    // batch 0 bootstraps an empty table (plain insert txn)
    val b0 = Seq((1L, "a", 1.0, 10L), (2L, "b", 2.0, 11L),
      (2L, "b2", 2.5, 12L)) // same-key dup inside the batch: latest wins
      .toDF("k", "s", "v", "ord")
    assert(Acid.streamingUpsertTxn(spark, t, b0, Seq("k"), "ord", 0).isDefined)
    assert(Acid.snapshot(spark, t).count() == 2)
    assert(Acid.snapshot(spark, t).filter($"k" === 2)
      .select("s").as[String].head() == "b2")
    // batch 1: update k=1, insert k=3
    val b1 = Seq((1L, "a9", 9.0, 20L), (3L, "c", 3.0, 21L))
      .toDF("k", "s", "v", "ord")
    assert(Acid.streamingUpsertTxn(spark, t, b1, Seq("k"), "ord", 1).isDefined)
    // crash replay of batch 1 is skipped
    assert(Acid.streamingUpsertTxn(spark, t, b1, Seq("k"), "ord", 1).isEmpty)
    val got = Acid.snapshot(spark, t).select("k", "s", "v", "ord")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(got == Set((1L, "a9", 9.0, 20L), (2L, "b2", 2.5, 12L),
      (3L, "c", 3.0, 21L)))
    // the k=1 row kept its insert-time identity through the upsert
    assert(Acid.snapshotWithRowId(spark, t).filter($"k" === 1)
      .select($"row__id.originalTransaction").as[Long].head() == 1L)
  }

  test("streaming upsert sink commits one MERGE txn per micro-batch") {
    val t = tmpTable()
    val ckpt = Files.createTempDirectory("graft-acid-ups-ckpt").toString
    Acid.create(t)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, Long)](spark, 1)
    input.addData((1L, "x", 1L), (2L, "y", 2L))
    val q = Acid.startStreamingUpsert(
      input.toDF().toDF("k", "s", "ord"), t, Seq("k"), "ord", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q.processAllAvailable()
    input.addData((1L, "x2", 3L), (3L, "z", 4L))
    q.processAllAvailable()
    q.stop()
    val got = Acid.snapshot(spark, t).select("k", "s")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x2"), (2L, "y"), (3L, "z")))
  }

  test("SQL front door: registered name takes the full Hive ACID DML") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))
    Acid.register(spark, "acid_sql_t", t)
    assert(spark.table("acid_sql_t").count() == 10)
    // INSERT INTO: positional bind + cast (0.5 is a DECIMAL literal)
    GraftSession.sql(spark,
      "INSERT INTO acid_sql_t SELECT id + 10, 'i', 0.5 FROM range(5)")
    GraftSession.sql(spark, "UPDATE acid_sql_t SET v = 9.0 WHERE k = 3")
    GraftSession.sql(spark, "DELETE FROM acid_sql_t WHERE k >= 13")
    Seq((1L, "m", 7.0), (20L, "n", 8.0)).toDF("k", "s", "v")
      .createOrReplaceTempView("acid_sql_src")
    GraftSession.sql(spark, """
      MERGE INTO acid_sql_t AS t USING acid_sql_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET s = s.s
      WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.s, s.v)""")
    GraftSession.sql(spark, "ALTER TABLE acid_sql_t COMPACT 'major'")
    Acid.clean(t)
    assert(dirs(t).size == 1 && dirs(t).head.startsWith("base_"))
    val got = rows(spark.table("acid_sql_t"))
    val expected = rows(seed(10)
      .withColumn("v", when($"k" === 3, 9.0).otherwise($"v"))
      .withColumn("s", when($"k" === 1, "m").otherwise($"s"))) ++
      Set((10L, "i", 0.5), (11L, "i", 0.5), (12L, "i", 0.5),
        (20L, "n", 8.0))
    assert(got == expected)
    Acid.deregister(spark, "acid_sql_t")
    // after deregistration the same statement is plain Spark SQL again
    assert(Acid.registeredPath("acid_sql_t").isEmpty)
  }

  test("no-match update/delete txns leave the snapshot readable") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))
    Acid.deleteTxn(spark, t, "k = 999")
    Acid.updateTxn(spark, t, Map("v" -> "0.0"), "k = 999")
    assert(rows(Acid.snapshot(spark, t)) == rows(seed(10)))
  }

  /** Spark jobs `f` launches on this thread's job group, counted after
    * the listener bus has delivered every event. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"acid-spec-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
          _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    org.apache.spark.SpecBridge.drainListeners(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      f
      org.apache.spark.SpecBridge.drainListeners(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("building a snapshot over base + deltas launches no Spark job") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(40))
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    Acid.updateTxn(spark, t, Map("v" -> "v + 1"), "k < 5")
    Acid.deleteTxn(spark, t, "k >= 35")
    Acid.insertTxn(spark, t, seed(45).filter($"k" >= 40))
    assert(dirs(t) == Seq("base_0000001", "delta_0000002_0000002",
      "delta_0000003_0000003", "delta_0000004_0000004"))
    var snap: DataFrame = null
    assert(jobsOf { snap = Acid.snapshot(spark, t) } == 0)
    assert(rows(snap) == rows(seed(45)
      .withColumn("v", when($"k" < 5, $"v" + 1).otherwise($"v"))
      .filter($"k" < 35 || $"k" >= 40)))

    // partitioned: deltas in two leaves, a base in one of them
    val p = tmpTable()
    Acid.create(p)
    val byPart = seed(20).withColumn("p", ($"k" % 2).cast("string"))
    Acid.insertTxn(spark, p, byPart, Seq("p"))
    Acid.compactMajor(spark, s"$p/p=0")
    Acid.clean(p)
    Acid.updateTxn(spark, p, Map("v" -> "0.0"), "k < 6")
    Acid.deleteTxn(spark, p, "k = 7")
    assert(dirs(s"$p/p=0") == Seq("base_0000001", "delta_0000002_0000002"))
    assert(dirs(s"$p/p=1").count(_.startsWith("delta_")) == 3)
    assert(jobsOf { snap = Acid.snapshot(spark, p) } == 0)
    assert(snap.select("k", "s", "v", "p")
      .as[(Long, String, Double, String)].collect().toSet ==
      byPart.withColumn("v", when($"k" < 6, 0.0).otherwise($"v"))
        .filter($"k" =!= 7).select("k", "s", "v", "p")
        .as[(Long, String, Double, String)].collect().toSet)

    // a front-door UPDATE costs the same jobs at 1 active delta as at 4
    val u = tmpTable()
    Acid.create(u)
    Acid.insertTxn(spark, u, seed(10))
    Acid.register(spark, "acid_jobs_t", u)
    val update = "UPDATE acid_jobs_t SET v = v + 1 WHERE k = 3"
    val atOne = jobsOf { GraftSession.sql(spark, update) }
    Acid.insertTxn(spark, u, seed(12).filter($"k" >= 10))
    Acid.insertTxn(spark, u, seed(14).filter($"k" >= 12))
    assert(dirs(u).count(_.startsWith("delta_")) == 4)
    assert(jobsOf { GraftSession.sql(spark, update) } == atOne)
    assert(spark.table("acid_jobs_t").filter($"k" === 3)
      .select("v").as[Double].head() == 6.5)
    Acid.deregister(spark, "acid_jobs_t")
  }

  test("deltas with different stored column types widen as per-dir " +
    "reads do") {
    // reference: each published dir read alone with its own inferred
    // schema, unioned by name, last event per identity wins
    def perDirSnapshot(t: String): DataFrame =
      dirs(t).filter(_.startsWith("delta_"))
        .map(d => spark.read.parquet(s"$t/$d"))
        .reduce(_ unionByName _)
        .groupBy("originalTransaction", "bucket", "rowId")
        .agg(max_by(struct($"operation", $"row"), $"currentTransaction")
          .as("last"))
        .filter($"last.operation" =!= Acid.DeleteOp)
        .select("last.row.*")
    val asInt = seed(20).filter($"k" >= 10).withColumn("k", $"k".cast("int"))
    // bigint deltas then an int one, and the reverse order
    Seq(Seq(seed(10), asInt), Seq(asInt, seed(10))).foreach { inserts =>
      val t = tmpTable()
      Acid.create(t)
      inserts.foreach(df => Acid.insertTxn(spark, t, df))
      Acid.updateTxn(spark, t, Map("v" -> "v * 2"), "k % 4 = 1")
      val got = Acid.snapshot(spark, t)
      val want = perDirSnapshot(t)
      assert(got.schema.map(f => f.name -> f.dataType) ==
        want.schema.map(f => f.name -> f.dataType))
      assert(got.schema("k").dataType == org.apache.spark.sql.types.LongType)
      assert(rows(got) == rows(want))
      assert(rows(got) == rows(seed(20)
        .withColumn("v", when($"k" % 4 === 1, $"v" * 2).otherwise($"v"))))
    }
  }

  test("census coverage check is independent of the write-id span") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))                          // w1
    // a long-lived table: the next write id is near 10^7
    java.nio.file.Files.write(new File(t, "_write_id_hwm").toPath,
      "9999990".getBytes("UTF-8"))
    assert(Acid.insertTxn(spark, t, seed(12).filter($"k" >= 10)) ==
      9999991L)
    Acid.compactMajor(spark, t)
    Acid.clean(t)
    assert(dirs(t) == Seq("base_9999991"))
    // the same layout at write id 2 is the yardstick: a walk over every
    // write id costs ~10^7 probes per census here, an interval check ~1
    val small = tmpTable()
    Acid.create(small)
    Acid.insertTxn(spark, small, seed(10))
    Acid.insertTxn(spark, small, seed(12).filter($"k" >= 10))
    Acid.compactMajor(spark, small)
    Acid.clean(small)
    assert(dirs(small) == Seq("base_0000002"))
    def censusMs(path: String): Double = {
      (1 to 20).foreach(_ => Acid.state(path)) // warm
      val t0 = System.nanoTime()
      (1 to 200).foreach(_ => Acid.state(path))
      (System.nanoTime() - t0) / 1e6
    }
    val (bigMs, smallMs) = (censusMs(t), censusMs(small))
    assert(bigMs < 4 * smallMs + 250,
      s"200 censuses: $bigMs ms over base_9999991, " +
        s"$smallMs ms over base_0000002")
    assert(rows(Acid.snapshot(spark, t)) == rows(seed(12)))
    // the base straddles this horizon and w1's own delta is cleaned
    val e = intercept[IllegalArgumentException] {
      Acid.snapshotAsOf(spark, t, 5000000L)
    }
    assert(e.getMessage.contains(
      "write id 1 at " + t + " is not readable as of 5000000"))
  }

  test("Acid lifecycle ≡ in-memory model under random txns + compaction") {
    val rnd = new scala.util.Random(42)
    (0 until 2).foreach { trial =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-acid-prop").toString
      Acid.create(t)
      val model = scala.collection.mutable.Map.empty[Long, (String, Double)]
      var nextK = 0L
      def insert(n: Int): Unit = {
        val rows = (0 until n).map { _ =>
          val k = nextK; nextK += 1
          (k, s"s${k % 4}", (k * 3 % 17).toDouble)
        }
        rows.foreach { r => model(r._1) = (r._2, r._3) }
        Acid.insertTxn(spark, t, rows.toDF("k", "s", "v"))
      }
      insert(10) // the table must exist before predicate txns
      (0 until 10).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => insert(5 + rnd.nextInt(10))
          case 1 | 2 =>
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val c = 1 + rnd.nextInt(9)
            Acid.updateTxn(spark, t, Map("v" -> s"v + $c"), s"k % $m = $r")
            model.keys.toSeq.filter(_ % m == r).foreach { k =>
              model(k) = (model(k)._1, model(k)._2 + c)
            }
          case 3 =>
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val lo = rnd.nextInt(30)
            Acid.deleteTxn(spark, t, s"k % $m = $r AND k >= $lo")
            model.keys.toSeq.filter(k => k % m == r && k >= lo)
              .foreach(model.remove)
          case 4 =>
            Acid.compactMinor(spark, t)
            if (rnd.nextBoolean()) Acid.clean(t)
          case 5 =>
            Acid.compactMajor(spark, t)
            if (rnd.nextBoolean()) Acid.clean(t)
        }
      }
      val got = Acid.snapshot(spark, t).select("k", "s", "v")
        .as[(Long, String, Double)].collect().toSet
      val want = model.map { case (k, (s2, v)) => (k, s2, v) }.toSet
      assert(got == want, s"trial $trial diverged: " +
        s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    }
  }

  test("row identities are unique across buckets and txns") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(1000).repartition(8))
    Acid.insertTxn(spark, t, seed(2000).filter($"k" >= 1000).repartition(8))
    val ids = Acid.snapshotWithRowId(spark, t).select("row__id")
    assert(ids.distinct().count() == 2000)
  }

  test("snapshotAsOf replays every historical state of the table") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))                          // w1
    Acid.insertTxn(spark, t, seed(20).filter($"k" >= 10))       // w2
    Acid.updateTxn(spark, t, Map("v" -> "v * 10"), "k < 5")     // w3
    Acid.deleteTxn(spark, t, "k >= 15")                         // w4
    val afterW1 = rows(seed(10))
    val afterW2 = rows(seed(20))
    val afterW3 = rows(seed(20)
      .withColumn("v", when($"k" < 5, $"v" * 10).otherwise($"v")))
    val afterW4 = rows(seed(20)
      .withColumn("v", when($"k" < 5, $"v" * 10).otherwise($"v"))
      .filter($"k" < 15))
    assert(rows(Acid.snapshotAsOf(spark, t, 1)) == afterW1)
    assert(rows(Acid.snapshotAsOf(spark, t, 2)) == afterW2)
    assert(rows(Acid.snapshotAsOf(spark, t, 3)) == afterW3)
    assert(rows(Acid.snapshotAsOf(spark, t, 4)) == afterW4)
    // horizon above the tip and the current snapshot agree
    assert(rows(Acid.snapshotAsOf(spark, t, 99)) ==
      rows(Acid.snapshot(spark, t)))
    // asOf 0: nothing committed yet
    assert(Acid.snapshotAsOf(spark, t, 0).count() == 0L)
  }

  test("snapshotAsOf before a compaction works until the Cleaner runs") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(10))                          // w1
    Acid.updateTxn(spark, t, Map("v" -> "0.0"), "k = 1")        // w2
    Acid.insertTxn(spark, t, seed(12).filter($"k" >= 10))       // w3
    val afterW1 = rows(seed(10))
    val afterW2 = rows(seed(10)
      .withColumn("v", when($"k" === 1, lit(0.0)).otherwise($"v")))
    Acid.compactMajor(spark, t) // base_3 alongside the original deltas
    // pre-compaction deltas still on disk: every horizon still readable
    assert(rows(Acid.snapshotAsOf(spark, t, 1)) == afterW1)
    assert(rows(Acid.snapshotAsOf(spark, t, 2)) == afterW2)
    Acid.clean(t) // obsolete deltas dropped -> horizons below base_3 gone
    val e = intercept[IllegalArgumentException] {
      Acid.snapshotAsOf(spark, t, 2).collect()
    }
    assert(e.getMessage.contains("compacted"))
    // the base horizon itself and the tip still read fine
    assert(rows(Acid.snapshotAsOf(spark, t, 3)) ==
      rows(Acid.snapshot(spark, t)))
  }

  test("snapshotAsOf on a partitioned table bounds every leaf") {
    val t = tmpTable()
    Acid.create(t)
    val byPart = seed(10).withColumn("p", ($"k" % 2).cast("string"))
    Acid.insertTxn(spark, t, byPart, Seq("p"))                  // w1
    Acid.deleteTxn(spark, t, "p = '1'")                         // w2 one leaf
    Acid.insertTxn(spark, t,
      seed(14).filter($"k" >= 10)
        .withColumn("p", ($"k" % 2).cast("string")), Seq("p"))  // w3
    def proj(df: DataFrame) = df.select("k", "s", "v", "p")
      .as[(Long, String, Double, String)].collect().toSet
    assert(proj(Acid.snapshotAsOf(spark, t, 1)) == proj(byPart))
    assert(proj(Acid.snapshotAsOf(spark, t, 2)) ==
      proj(byPart.filter($"p" =!= "1")))
    assert(proj(Acid.snapshotAsOf(spark, t, 3)) ==
      proj(Acid.snapshot(spark, t)))
  }

  test("two racing MERGE txns serialize: final snapshot equals " +
    "sequential application") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(20))
    // two writers merge concurrently: one bumps v for k<10 and inserts
    // k=100, the other bumps v for k>=5 and inserts k=200. Serialized in
    // either order the result is identical (updates commute here), so
    // equality with sequential application proves both committed against
    // a consistent snapshot — without the lock the slower writer would
    // compute events against the pre-merge snapshot and allocate the
    // same write id (its delta rename then collides or clobbers).
    def mergeOne(): Long = Acid.mergeTxn(spark, t,
      seed(21).filter($"k" < 10 || $"k" === 20)
        .withColumn("k", when($"k" === 20, 100L).otherwise($"k")),
      "s", "t", "t.k = s.k",
      matched = Seq(Warehouse.MatchedUpdate(None, Map("v" -> "t.v + 1000"))),
      notMatched = Some(Warehouse.NotMatchedInsert(None,
        Seq("s.k", "s.s", "s.v"))))
    def mergeTwo(): Long = Acid.mergeTxn(spark, t,
      seed(21).filter(($"k" >= 5 && $"k" < 20) || $"k" === 20)
        .withColumn("k", when($"k" === 20, 200L).otherwise($"k")),
      "s", "t", "t.k = s.k",
      matched = Seq(Warehouse.MatchedUpdate(None, Map("v" -> "t.v + 50"))),
      notMatched = Some(Warehouse.NotMatchedInsert(None,
        Seq("s.k", "s.s", "s.v"))))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(mergeOne())
    val f2 = Future(mergeTwo())
    val ids = Seq(Await.result(f1, 120.seconds),
      Await.result(f2, 120.seconds))
    assert(ids.toSet == Set(2L, 3L), s"write ids: $ids") // distinct, ordered
    // sequential oracle on a second table
    val t2 = tmpTable()
    Acid.create(t2)
    Acid.insertTxn(spark, t2, seed(20))
    Acid.mergeTxn(spark, t2,
      seed(21).filter($"k" < 10 || $"k" === 20)
        .withColumn("k", when($"k" === 20, 100L).otherwise($"k")),
      "s", "t", "t.k = s.k",
      matched = Seq(Warehouse.MatchedUpdate(None, Map("v" -> "t.v + 1000"))),
      notMatched = Some(Warehouse.NotMatchedInsert(None,
        Seq("s.k", "s.s", "s.v"))))
    Acid.mergeTxn(spark, t2,
      seed(21).filter(($"k" >= 5 && $"k" < 20) || $"k" === 20)
        .withColumn("k", when($"k" === 20, 200L).otherwise($"k")),
      "s", "t", "t.k = s.k",
      matched = Seq(Warehouse.MatchedUpdate(None, Map("v" -> "t.v + 50"))),
      notMatched = Some(Warehouse.NotMatchedInsert(None,
        Seq("s.k", "s.s", "s.v"))))
    assert(rows(Acid.snapshot(spark, t)) == rows(Acid.snapshot(spark, t2)))
    // the lock file is gone after both txns release
    assert(!new File(t, "_txn_lock").exists())
  }

  test("append-only txns parallelize: two single-partition inserts " +
    "overlap in their publish phase and commit disjoint write ids") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(4).withColumn("p", $"k" % 2), Seq("p"))
    // writer A allocates its id, then BLOCKS inside its publish job (a
    // latch in a UDF over its single row). While A is provably mid-
    // publish, writer B runs a whole insert txn to completion — which is
    // only possible because the table lock is held for write-id
    // allocation ONLY, not across the write job (the old whole-body lock
    // would park B until A's latch releases).
    AcidSpec.meetLatch = new java.util.concurrent.CountDownLatch(1)
    val hold = udf { (k: Long) =>
      AcidSpec.meetLatch.await(120, java.util.concurrent.TimeUnit.SECONDS)
      k
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fA = Future(Acid.insertTxn(spark,
      t, seed(1).withColumn("k", hold($"k")).withColumn("p", lit(0)),
      Seq("p")))
    // A has allocated once the persistent high-water mark reads 2
    val hwm = new File(t, "_write_id_hwm")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while ((!hwm.exists() || new String(Files.readAllBytes(hwm.toPath),
        "UTF-8").trim != "2") && System.nanoTime() < deadline)
      Thread.sleep(20)
    // B commits end-to-end while A is still wedged in its write job
    val idB = Acid.insertTxn(spark,
      t, seed(2).filter($"k" === 1).withColumn("p", lit(1)), Seq("p"))
    assert(idB == 3L, s"B's write id: $idB")
    assert(!fA.isCompleted, "A finished early — it never overlapped B")
    AcidSpec.meetLatch.countDown()
    val idA = Await.result(fA, 90.seconds)
    assert(idA == 2L, s"A's write id: $idA")
    assert(rows(Acid.snapshot(spark, t)) ==
      rows(seed(4)) + ((0L, "s0", 0.0)) + ((1L, "s1", 1.5)))
    assert(!new File(t, "_txn_lock").exists())
  }

  test("write lock: stale holder is fenced, contender proceeds, " +
    "overrunning holder detects the break at release") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(5))
    val prevTtl = sys.props.put("graft.acid.lock.ttl.ms", "300")
    try {
      // simulate a dead writer: a lock file nobody will release, aged
      // past the TTL
      val lf = new File(t, "_txn_lock")
      assert(lf.createNewFile())
      lf.setLastModified(System.currentTimeMillis() - 10000)
      // a new writer breaks the stale lock and commits
      assert(Acid.insertTxn(spark, t, seed(6).filter($"k" === 5)) == 2L)
      assert(rows(Acid.snapshot(spark, t)) == rows(seed(6)))
      // an overrunning holder (sleeps past TTL while a contender breaks
      // and relocks) fails loudly at release
      val e = intercept[IllegalStateException] {
        Acid.withWriteLock(t) {
          val mine = new File(t, "_txn_lock")
          mine.setLastModified(System.currentTimeMillis() - 10000)
          // contender on another thread breaks + takes the lock
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration._
          import scala.concurrent.ExecutionContext.Implicits.global
          Await.result(Future {
            Acid.withWriteLock(t)(()) }, 30.seconds)
        }
      }
      assert(e.getMessage.contains("broken as stale"))
    } finally {
      prevTtl match {
        case Some(v) => sys.props.put("graft.acid.lock.ttl.ms", v)
        case None => sys.props.remove("graft.acid.lock.ttl.ms")
      }
    }
  }

  test("partition-granular mutation locks: disjoint-partition UPDATEs " +
    "overlap; same-partition and table-level writers serialize") {
    val t = tmpTable()
    Acid.create(t)
    Acid.insertTxn(spark, t, seed(8).withColumn("p", ($"k" % 2).cast("string")),
      Seq("p"))
    // a partition-pinning WHERE routes through the PARTITION lock
    Acid.updateTxn(spark, t, Map("v" -> "v + 100"), "p = '0' and k < 100")
    assert(Acid.lastMutationScope.get() == "partition:p=0",
      s"scope: ${Acid.lastMutationScope.get()}")
    // an unpinned WHERE stays on the table lock
    Acid.updateTxn(spark, t, Map("v" -> "v + 1000"), "k >= 100")
    assert(Acid.lastMutationScope.get() == "table")
    // a pin hidden behind OR must NOT narrow the lock
    Acid.deleteTxn(spark, t, "p = '1' or k > 1000")
    assert(Acid.lastMutationScope.get() == "table")
    // genuine overlap: hold partition p=0's lock on another thread; an
    // update pinned to p=1 commits while p=0 is held — the old
    // whole-table lock would park it for the full timeout
    import scala.concurrent.{Await, Future, Promise}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val entered = Promise[Unit]()
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = Future(Acid.withWriteLock(new File(t, "p=0").getPath) {
      entered.success(())
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    })
    Await.result(entered.future, 30.seconds)
    val w = Acid.updateTxn(spark, t,
      Map("s" -> "'updated'"), "p = '1' and k >= 0")
    assert(Acid.lastMutationScope.get() == "partition:p=1")
    assert(w > 0, "p=1 update must commit while p=0's lock is held")
    release.countDown()
    Await.result(holder, 60.seconds)
    val snap = Acid.snapshot(spark, t)
    assert(snap.filter($"p" === "1" && $"s" =!= "updated").count() == 0)
    // pinnedPartition parsing unit surface
    assert(Acid.pinnedPartition("p = '3' and k > 0", Seq("p"))
      .contains("p=3"))
    assert(Acid.pinnedPartition("ds = '2024-01-01' and hr = 11",
      Seq("ds", "hr")).contains("ds=2024-01-01/hr=11"))
    assert(Acid.pinnedPartition("k > 0", Seq("p")).isEmpty)
    assert(Acid.pinnedPartition("p = '3' or k > 0", Seq("p")).isEmpty)
    assert(Acid.pinnedPartition("p = k2", Seq("p")).isEmpty)
  }
}
