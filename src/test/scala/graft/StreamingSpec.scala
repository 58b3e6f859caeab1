package graft

import graft.streaming.Ingest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming ingest facade specs: exactly-once table append (the
  * HiveEndPoint contract), watermarked windows, sessionization. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Poll until a condition holds (processAllAvailable never idles when
    * processing-time timeouts keep scheduling batches). */
  private def waitFor(cond: => Boolean, timeoutMs: Long = 90000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, "timed out waiting")
      Thread.sleep(200)
    }
  }

  test("endpoint append is exactly-once across restarts (txn batches)") {
    val src = tmp("ingest-src")
    val ckpt = tmp("ingest-ckpt")
    val table = s"ingest_target_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")

    val batch1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    batch1.write.parquet(s"$src/b1")

    val ep = Ingest.Endpoint(table, ckpt)
    val q1 = Ingest.ingestDirectory(spark, s"$src/*", s"$src/b1", ep)
    q1.awaitTermination()
    assert(spark.table(table).count() == 2)

    // second "transaction batch": add a file, restart the stream — the
    // checkpoint must skip batch1 (no duplicates) and pick up batch2
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$src/b2")
    val q2 = Ingest.ingestDirectory(spark, s"$src/*", s"$src/b1", ep)
    q2.awaitTermination()
    val rows = spark.table(table).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "exactly-once")
  }

  test("watermarked tumbling window drops late data") {
    val input = MemoryStream[(Timestamp, String, Double)](spark, 1)
    val events = input.toDF().toDF("ts", "event_type", "value")
    val out = Ingest.windowedCounts(events, "ts", "10 minutes", "5 minutes")
    val ckpt = tmp("wm-ckpt")
    val query = out.writeStream
      .format("memory").queryName("wm_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    input.addData((t(1), "click", 1.0), (t(3), "click", 2.0))
    query.processAllAvailable()
    // advance watermark far past the first window, closing it
    input.addData((t(40), "click", 1.0))
    query.processAllAvailable()
    // this event is *behind* the watermark → must be dropped
    input.addData((t(2), "click", 100.0))
    query.processAllAvailable()
    input.addData((t(55), "click", 1.0))
    query.processAllAvailable()
    query.stop()

    val closed = spark.table("wm_out")
      .filter($"wstart" === Timestamp.valueOf("2024-01-01 10:00:00"))
      .collect()
    assert(closed.length == 1)
    assert(closed.head.getAs[Long]("n") == 2, "late row must not be counted")
    assert(closed.head.getAs[Double]("total_value") == 3.0)
  }

  test("mapGroupsWithState sessionization groups events by gap") {
    val input = MemoryStream[Ingest.Event](spark, 2)
    val sessions = Ingest.sessionize(input.toDS(), gapMs = 60000L)
    val ckpt = tmp("sess-ckpt")
    val query = sessions.writeStream
      .format("memory").queryName("sess_out")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()

    def ev(user: Long, min: Int, v: Double) =
      Ingest.Event(user, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), v)
    input.addData(ev(1, 0, 1.0), ev(1, 0, 2.0), ev(2, 0, 5.0))
    waitFor(spark.table("sess_out").count() >= 2)
    query.stop()

    val out = spark.table("sess_out").orderBy("user_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Int]("n_events") == 2)
    assert(out(0).getAs[Double]("total") == 3.0)
    assert(out(1).getAs[Long]("user_id") == 2L)
  }

  test("streaming sessionization splits two sessions arriving in one batch") {
    // Replay / AvailableNow delivers a user's whole history in one
    // micro-batch; gaps inside the batch must still split sessions.
    val input = MemoryStream[Ingest.Event](spark, 3)
    val sessions = Ingest.sessionize(input.toDS(), gapMs = 60000L)
    val ckpt = tmp("sess-split-ckpt")
    val query = sessions.writeStream
      .format("memory").queryName("sess_split_out")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()

    def ev(min: Int, v: Double) =
      Ingest.Event(1L, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), v)
    // minutes 0,1 = session A; minute 10 = session B (9-min gap > 60s)
    input.addData(ev(0, 1.0), ev(1, 2.0), ev(10, 4.0))
    waitFor(spark.table("sess_split_out").count() >= 2)
    query.stop()

    val out = spark.table("sess_split_out").orderBy("start_ms").collect()
    assert(out.length == 2, s"one batch must yield two sessions, got ${out.length}")
    assert(out(0).getAs[Int]("n_events") == 2 &&
      out(0).getAs[Double]("total") == 3.0, "closed first run: events 0,1")
    assert(out(1).getAs[Int]("n_events") == 1 &&
      out(1).getAs[Double]("total") == 4.0, "second run split off in-batch")
  }

  test("stream-stream join matches keys within the time window only") {
    val clicks = MemoryStream[(Long, Timestamp, String)](spark, 7)
    val buys = MemoryStream[(Long, Timestamp, Double)](spark, 8)
    val joined = Ingest.streamJoin(
      clicks.toDF().toDF("user", "ts", "page"),
      buys.toDF().toDF("user", "ts", "amount"),
      "user", "ts", watermarkDelay = "1 hour", joinWindow = "10 minutes")
    val ckpt = tmp("ssj-ckpt")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()

    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    clicks.addData((1L, t(0), "home"), (2L, t(0), "search"))
    // user 1 buys within 10 min (match); user 2 buys 30 min later (no)
    buys.addData((1L, t(5), 9.99), (2L, t(30), 5.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssj_out").collect()
    assert(rows.length == 1, s"only the in-window pair joins: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("user") == 1L)
    assert(rows.head.getAs[String]("l_page") == "home")
    assert(rows.head.getAs[Double]("r_amount") == 9.99)
  }

  test("stream-stream LEFT OUTER join emits null-extended rows once the " +
    "watermark passes the window") {
    val clicks = MemoryStream[(Long, Timestamp, String)](spark, 17)
    val buys = MemoryStream[(Long, Timestamp, Double)](spark, 18)
    val joined = Ingest.streamJoin(
      clicks.toDF().toDF("user", "ts", "page"),
      buys.toDF().toDF("user", "ts", "amount"),
      "user", "ts", watermarkDelay = "10 minutes",
      joinWindow = "10 minutes", joinType = "left_outer")
    val ckpt = tmp("ssoj-ckpt")
    val q = joined.writeStream.format("memory").queryName("ssoj_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()

    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    clicks.addData((1L, t(0), "home"), (2L, t(0), "search"))
    buys.addData((1L, t(5), 9.99))
    q.processAllAvailable()
    // push BOTH watermarks far past user 2's window so its unmatched
    // state expires and the null-extended row can emit
    clicks.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00"), "x"))
    buys.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssoj_out").collect()
      .map(r => (r.getAs[Long]("user"), Option(r.get(r.fieldIndex("r_amount")))))
      .toSet
    assert(rows.contains((1L, Some(9.99))), "matched pair joins")
    assert(rows.contains((2L, None)),
      s"unmatched left row emits null-extended after watermark: ${rows}")
  }

  test("streaming SCD2 maintenance: maintained history equals a full " +
    "rebuild over everything ingested") {
    val table = s"scd2_dim_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val src = MemoryStream[(Long, Long, String)](spark, 23)
    val ep = Ingest.Endpoint(table, tmp("scd2m-ckpt"))

    def maintained(): Set[Seq[Any]] = {
      spark.catalog.refreshTable(table)
      spark.table(table).drop("_batch_id").collect().map(_.toSeq).toSet
    }
    def rebuild(rows: Seq[(Long, Long, String)]): Set[Seq[Any]] = {
      import graft.operators.Cdc
      Cdc.scdType2(rows.toDF("k", "ts", "attr"), Seq("k"), Seq("ts"),
        Seq("attr")).collect().map(_.toSeq).toSet
    }

    val b1 = Seq((1L, 1L, "a"), (1L, 2L, "a"), (2L, 1L, "x"))
    src.addData(b1: _*)
    Ingest.startScd2Maintenance(src.toDF().toDF("k", "ts", "attr"), ep,
      Seq("k"), Seq("ts"), Seq("attr")).awaitTermination()
    assert(maintained() == rebuild(b1))

    // second batch: key 1 changes state, key 3 appears, key 2 untouched
    val b2 = Seq((1L, 5L, "b"), (3L, 4L, "z"))
    src.addData(b2: _*)
    Ingest.startScd2Maintenance(src.toDF().toDF("k", "ts", "attr"), ep,
      Seq("k"), Seq("ts"), Seq("attr")).awaitTermination()
    assert(maintained() == rebuild(b1 ++ b2))
    assert(maintained().exists(r => r.head == 1L && r(1) == "b"))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming aggregate maintenance: snapshot tracks the full " +
    "aggregate across micro-batches") {
    val table = s"agg_snap_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val src = MemoryStream[(String, Double)](spark, 21)
    val ep = Ingest.Endpoint(table, tmp("aggm-ckpt"))

    def snapshot(): Map[String, (Long, Double)] = {
      // the overwrite runs in the micro-batch's cloned session; relation
      // caches are per-session, so this reader refreshes its own
      spark.catalog.refreshTable(table)
      spark.table(table).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2).doubleValue))
        .toMap
    }

    src.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
    val q1 = Ingest.startAggMaintenance(src.toDF().toDF("grp", "v"),
      ep, Seq("grp"), Seq("v"))
    q1.awaitTermination()
    assert(snapshot() == Map("a" -> ((2L, 3.0)), "b" -> ((1L, 10.0))))

    // second increment: existing key grows, new key appears — equals a
    // full recompute over everything ingested
    src.addData(("a", 4.0), ("c", 7.0))
    val q2 = Ingest.startAggMaintenance(src.toDF().toDF("grp", "v"),
      ep, Seq("grp"), Seq("v"))
    q2.awaitTermination()
    assert(snapshot() == Map("a" -> ((3L, 7.0)), "b" -> ((1L, 10.0)),
      "c" -> ((1L, 7.0))))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("stream-static dimension enrichment joins each micro-batch " +
    "against the broadcast dim without state") {
    val dim = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"))
      .toDF("key", "name")
    val events = MemoryStream[(Long, Int)](spark, 19)
    val enriched = events.toDF().toDF("id", "key")
      .join(broadcast(dim), Seq("key"), "left")
    val q = enriched.writeStream.format("memory").queryName("ssd_out")
      .outputMode("append").start()
    events.addData((1L, 0), (2L, 2), (3L, 9)) // 9: no dim row
    q.processAllAvailable()
    events.addData((4L, 1)) // second batch re-joins the same static dim
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssd_out").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("name")))
      .toMap
    assert(rows == Map(1L -> Some("AFRICA"), 2L -> Some("ASIA"),
      3L -> None, 4L -> Some("AMERICA")))
  }

  test("stream-stream FULL outer join null-extends expired rows on BOTH sides") {
    val l = MemoryStream[(Long, Timestamp, String)](spark, 23)
    val r = MemoryStream[(Long, Timestamp, Double)](spark, 24)
    val joined = Ingest.streamJoin(
      l.toDF().toDF("user", "ts", "page"),
      r.toDF().toDF("user", "ts", "amount"),
      "user", "ts", watermarkDelay = "10 minutes",
      joinWindow = "10 minutes", joinType = "full_outer")
    val q = joined.writeStream.format("memory").queryName("ssfo_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("ssfo-ckpt")).start()
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    l.addData((1L, t(0), "home"), (2L, t(0), "search")) // 2: left-only
    r.addData((1L, t(5), 9.99), (3L, t(5), 5.55))       // 3: right-only
    q.processAllAvailable()
    l.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00"), "x"))
    r.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssfo_out").collect()
      .map(r => (r.getAs[Long]("user"),
        Option(r.get(r.fieldIndex("l_page"))),
        Option(r.get(r.fieldIndex("r_amount"))))).toSet
    assert(rows.contains((1L, Some("home"), Some(9.99))), "matched pair")
    assert(rows.contains((2L, Some("search"), None)),
      "left-only null-extends, key kept")
    assert(rows.contains((3L, None, Some(5.55))),
      "right-only null-extends and keeps its key via coalesce")
  }

  test("streaming near-dup filter appends only novel docs, index grows across batches") {
    import graft.operators.Dedup
    val corpusText = "the quick brown fox jumps over the lazy dog again and again"
    val novelA = "completely new material about distributed query planning today"
    val novelB = "another unrelated paragraph mentioning columnar storage formats"
    val novelC = "a third fresh text on vectorized execution of window functions"
    val corpus = Seq((1L, corpusText)).toDF("id", "text")
    val base = Dedup.buildMinhashIndex(corpus, "id", "text")
    val idx = new java.util.concurrent.atomic.AtomicReference(base)
    // batch working frames must be released once the batch is written;
    // only the grown index may hold blocks (the caller's base index
    // working set, the novel docs' pinned sketches)
    def orphans(before: Set[Int]): Set[Int] =
      Residency.orphans(spark, before, idx.get().shingled, idx.get().banded)

    WorkingSet.using(base.shingled, base.banded) {
      val before = Residency.resident(spark)
      val input = MemoryStream[(Long, String)](spark, 7)
      val stream = input.toDF().toDF("id", "text")
      val table = s"dedup_append_${System.nanoTime()}"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val ep = Ingest.Endpoint(table, tmp("dedup-ckpt"))
      val q = Ingest.startDedupedAppend(stream, ep, "id", "text", idx,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      def settled(b: => Boolean): Boolean =
        try { spark.catalog.refreshTable(table); b }
        catch { case _: Throwable => false }

      // batch 1: a copy of the indexed doc (dropped) + novel A (kept)
      input.addData((10L, corpusText), (11L, novelA))
      q.processAllAvailable()
      waitFor(spark.catalog.tableExists(table) &&
        settled(spark.table(table).count() == 1))
      assert(spark.table(table).collect().head.getLong(0) == 11L)
      assert(orphans(before).isEmpty, "batch 1 left working frames resident")

      // batch 2: a copy of novel A (dropped — the index grew) + novel B
      // arriving TWICE in the same batch (intra-batch self-dedup keeps the
      // smallest id, no index entry exists for B yet)
      input.addData((20L, novelA), (21L, novelB), (22L, novelB))
      q.processAllAvailable()
      waitFor(settled(spark.table(table).count() == 2))

      // batch 3: copies of A and B (dropped) + novel C
      input.addData((30L, novelA), (31L, novelB), (32L, novelC))
      q.processAllAvailable()
      waitFor(settled(spark.table(table).count() == 3))
      q.stop()
      val ids = spark.table(table).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(11L, 21L, 32L), s"got $ids")
      assert(orphans(before).isEmpty, "batch 3 left working frames resident")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    WorkingSet.release(idx.get().shingled)
    WorkingSet.release(idx.get().banded)
  }

  test("streaming upsert keeps latest row per key across batches") {
    val input = MemoryStream[(Long, Long, String)](spark, 6)
    val stream = input.toDF().toDF("k", "seq", "v")
    val table = s"upsert_target_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ep = Ingest.Endpoint(table, tmp("upsert-ckpt"))
    val q = Ingest.startUpsert(stream, ep, Seq("k"), "seq",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))

    // reads race the rewrite's file swap — treat transient read errors
    // as "not yet" (a MERGE reader refreshes and retries the same way)
    def settled(b: => Boolean): Boolean =
      try { spark.catalog.refreshTable(table); b }
      catch { case _: Throwable => false }

    // batch 1: two keys, one with an in-batch overwrite (seq 2 wins)
    input.addData((1L, 1L, "a"), (1L, 2L, "a2"), (2L, 1L, "b"))
    waitFor(spark.catalog.tableExists(table) &&
      settled(spark.table(table).count() == 2))
    // batch 2: update key 1, insert key 3
    input.addData((1L, 3L, "c"), (3L, 1L, "d"))
    waitFor(settled(spark.table(table).count() == 3 &&
      spark.table(table).filter($"k" === 1L).collect()
        .headOption.exists(_.getString(2) == "c")))
    q.stop()

    val rows = spark.table(table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq == Seq((1L, "c"), (2L, "b"), (3L, "d")))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming upsert survives non-leading keys and NULL orders/keys") {
    // (seq, k, v): key is NOT the first column — the merge's anti join
    // moves keys around, and positional insertInto must not swap values
    val input = MemoryStream[(Option[Long], Option[Long], String)](spark, 9)
    val stream = input.toDF().toDF("seq", "k", "v")
    val table = s"upsert_hard_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ep = Ingest.Endpoint(table, tmp("upsert-hard-ckpt"))
    val q = Ingest.startUpsert(stream, ep, Seq("k"), "seq",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    def settled(b: => Boolean): Boolean =
      try { spark.catalog.refreshTable(table); b }
      catch { case _: Throwable => false }

    input.addData((Some(10L), Some(1L), "a"), (None, Some(2L), "b"))
    waitFor(spark.catalog.tableExists(table) &&
      settled(spark.table(table).count() == 2))
    // batch 2: real seq must beat NULL seq for key 2; NULL key upserts
    input.addData((Some(5L), Some(2L), "b2"), (None, Some(2L), "junk"),
      (Some(1L), None, "nk1"))
    waitFor(settled(spark.table(table).count() == 3))
    input.addData((Some(2L), None, "nk2"))
    waitFor(settled(spark.table(table).filter($"k".isNull).collect()
      .exists(_.getString(2) == "nk2")))
    q.stop()

    val rows = spark.table(table).collect()
      .map(r => (Option(r.get(1)).map(_.toString).getOrElse("null"),
        r.getString(2))).toMap
    assert(rows("1") == "a", "column order preserved through the merge")
    assert(rows("2") == "b2", "real order value outranks NULL")
    assert(rows("null") == "nk2", "NULL key replaced, not duplicated")
    assert(spark.table(table).filter($"k" === 1L).collect()
      .head.getAs[Long]("seq") == 10L, "seq landed in the seq column")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val input = MemoryStream[(String, Timestamp, Double)](spark, 4)
    val stream = input.toDF().toDF("k", "ts", "v")
    val out = Ingest.dedupStream(stream, Seq("k"), "ts", "10 minutes")
    val ckpt = tmp("dedup-ckpt")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()

    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // duplicate key "a" inside one batch AND across batches
    input.addData(("a", t(0), 1.0), ("a", t(1), 2.0), ("b", t(0), 3.0))
    q.processAllAvailable()
    input.addData(("a", t(2), 4.0), ("c", t(3), 5.0))
    q.processAllAvailable()
    q.stop()

    val keys = spark.table("dedup_out").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c"),
      s"each key must survive exactly once, got ${keys.mkString(",")}")
  }

  test("streaming sessionization extends a session backwards for late events") {
    val input = MemoryStream[Ingest.Event](spark, 5)
    val sessions = Ingest.sessionize(input.toDS(), gapMs = 60000L)
    val ckpt = tmp("sess-late-ckpt")
    val query = sessions.writeStream
      .format("memory").queryName("sess_late_out")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()

    def at(sec: Int) = Timestamp.valueOf(f"2024-01-01 10:00:${sec}%02d")
    input.addData(Ingest.Event(1L, at(30), 1.0))
    waitFor(spark.table("sess_late_out").count() >= 1)
    // late event 30s EARLIER than the stored run's start, within the gap
    input.addData(Ingest.Event(1L, at(0), 2.0))
    waitFor(spark.table("sess_late_out").count() >= 2)
    query.stop()

    val merged = spark.table("sess_late_out").collect()
      .maxBy(_.getAs[Int]("n_events"))
    assert(merged.getAs[Int]("n_events") == 2)
    assert(merged.getAs[Long]("start_ms") ==
      at(0).getTime, "session start must extend to the earliest event")
  }

  test("batch sessionization splits on inactivity gap") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:00:30", 2.0),   // same session (30s gap)
      (1L, "2024-01-01 10:05:00", 3.0),   // new session (270s gap > 60s)
      (2L, "2024-01-01 10:00:00", 9.0)
    ).toDF("user_id", "ts_s", "value")
      .select($"user_id", $"ts_s".cast("timestamp").as("ts"), $"value")
    val s = Ingest.sessionizeBatch(df, "user_id", "ts", gapMs = 60000L)
      .orderBy("user_id", "start_ms").collect()
    assert(s.length == 3)
    assert(s(0).getAs[Int]("n_events") == 2 && s(0).getAs[Double]("total") == 3.0)
    assert(s(1).getAs[Int]("n_events") == 1 && s(1).getAs[Double]("total") == 3.0)
    assert(s(2).getAs[Long]("user_id") == 2L)
  }

  test("windowed streaming agg matches the batch q31 shape on events data") {
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.load(spark, dir, "events")
    // stream the same rows through a file source and compare aggregates
    val src = tmp("ev-src")
    batch.write.parquet(s"$src/part")
    val schema = batch.schema
    val stream = spark.readStream.schema(schema).parquet(s"$src/*")
    val agg = Ingest.windowedCounts(stream, "ts", "1 day", "0 seconds")
    val ckpt = tmp("ev-ckpt")
    val q = agg.writeStream.format("memory").queryName("ev_out")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ev_out")
      .agg(sum($"n")).collect().head.getLong(0)
    assert(streamed == batch.count(), "every event lands in some window")
  }

  test("streaming count-min maintenance: merged sketch is byte-identical " +
    "to a batch build over everything ingested") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.{CountMinAgg, CountMinFunctions}
    val table = s"cm_snap_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val src = MemoryStream[(String, String)](spark, 31)
    val ep = Ingest.Endpoint(table, tmp("cmm-ckpt"))
    def sketchOf(g: String): Array[Byte] = {
      spark.catalog.refreshTable(table)
      spark.table(table).filter(col("grp") === g)
        .select("sketch").collect().head.getAs[Array[Byte]](0)
    }
    src.addData(("a", "x"), ("a", "x"), ("a", "y"), ("b", "z"))
    Ingest.startSketchMaintenance(src.toDF().toDF("grp", "tok"), ep,
      "tok", Seq("grp"), width = 271, depth = 5).awaitTermination()
    assert(CountMinFunctions.estimate(sketchOf("a"),
      org.apache.spark.unsafe.types.UTF8String.fromString("x")) == 2L)
    // second batch: existing group grows, new group appears
    src.addData(("a", "x"), ("c", "w"))
    Ingest.startSketchMaintenance(src.toDF().toDF("grp", "tok"), ep,
      "tok", Seq("grp"), width = 271, depth = 5).awaitTermination()
    val est = Map("x" -> sketchOf("a"), "w" -> sketchOf("c"))
      .map { case (k, f) => k -> CountMinFunctions.estimate(f,
        org.apache.spark.unsafe.types.UTF8String.fromString(k)) }
    assert(est == Map("x" -> 3L, "w" -> 1L))
    // the maintained bytes equal a one-shot batch build (counts are
    // additive, merge is element-wise add)
    val oneShot = Seq("x", "x", "y", "x").toDF("tok")
      .agg(toCol(CountMinAgg(toExpr(col("tok")), 271, 5)
        .toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    assert(sketchOf("a").toSeq == oneShot.toSeq)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
