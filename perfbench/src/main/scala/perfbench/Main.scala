package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{Acid, GraftSession, Queries, Tables}

/** The benchmark's JVM side. `run.py` generates the seeded inputs and the
  * op plan, starts this main, checks the outputs and prints the metrics.
  *
  * Plan file (`plan.tsv`), one op per line: pass, kind, name, text.
  * Pass -1 lines are set-up statements, pass 0 is the warm-up pass and
  * passes 1.. are the measured stream. Kinds:
  *   - `query`: registry query `name`, built with `Queries.byName(name).run`,
  *     planned, then collected (the sink);
  *   - `sql`: HiveQL sent through `GraftSession.sql`; statements of one op
  *     are separated by ` ;; `. A SELECT is planned and collected;
  *   - `acid`: adopt `<data>/<text>.parquet` in place as ACID table `name`.
  *
  * Set-up (the JVM's start, the `SparkSession`, table registration and
  * the set-up statements) runs once; the session then runs the warm-up
  * pass, whose outputs are kept for the check, and the stream of
  * `--passes` whole passes. With `--trace 1` passes alternate untraced
  * and traced, so one run gives both the layer counters and the tracing
  * overhead. Results go to `<work>/result.json`.
  */
object Main {
  final case class Op(index: Int, pass: Int, kind: String, name: String, text: String) {
    def statements: Seq[String] = text.split(" ;; ").toSeq.map(_.trim).filter(_.nonEmpty)
    def isRead: Boolean = kind == "query" ||
      (kind == "sql" && statements.last.toUpperCase.startsWith("SELECT"))
  }

  final case class Done(op: Op, traced: Boolean, startNs: Long,
      seconds: Double, rows: Long, fingerprint: String, error: String,
      result: Seq[String], residentNew: Int, deltas: Int,
      tableBytesWritten: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val passCount = a("passes").toInt
    val traceOn = a("trace") == "1"
    val work = new File(a("work")).getAbsoluteFile
    val data = new File(a("data")).getAbsolutePath
    val cores = a("cores").toInt
    val compactEvery = a("compact-every").toInt
    val plan = scala.io.Source.fromFile(new File(work, "plan.tsv"), "UTF-8")
      .getLines().zipWithIndex.map { case (l, i) =>
        val Array(p, k, n, t) = l.split("\t", 4)
        Op(i, p.toInt, k, n, t)
      }.toVector
    val byPass = plan.groupBy(_.pass)
    val warehouse = new File(work, "warehouse")
    val acidRoot = new File(work, "acid")
    val outDir = new File(work, "out")

    val done = mutable.ArrayBuffer.empty[Done]
    val compactions = mutable.ArrayBuffer.empty[(Double, Double, String, Long, Boolean)]
    var tracer: Tracer = null
    var writesSinceCompact = 0

    // ---- set-up, timed from the JVM's start ----
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupStart = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "tmp").getPath)
      .config("spark.sql.warehouse.dir", warehouse.getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, data)

    def acidPaths: Seq[(String, File)] =
      plan.filter(_.kind == "acid").map(o => o.name -> new File(acidRoot, o.name))

    def countDeltas(): Int = acidPaths.map { case (_, dir) =>
      Option(dir.listFiles()).getOrElse(Array.empty[File])
        .count(f => f.isDirectory && f.getName.startsWith("delta_"))
    }.sum

    /** Data files under both table roots: path -> size. */
    def tableFiles(): Map[String, Long] = Seq(warehouse, acidRoot).flatMap(files).toMap

    /** `bit_xor(xxhash64(*))` plus the row count, riding the sink job. */
    def observed(df: DataFrame): (DataFrame, Observation) = {
      val obs = Observation()
      val cols = df.schema.fields.map { f =>
        if (hasMap(f.dataType)) to_json(col(s"`${f.name}`"))
        else col(s"`${f.name}`")
      }
      val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
      (df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("h")), obs)
    }

    def span[T](name: String)(f: => T): T =
      if (tracer != null) tracer.span(name)(f) else f

    /** The Initiator and Cleaner, run inline after every `compactEvery`
      * writes; their time counts toward the stream's wall time. The
      * Initiator's default threshold of 10 deltas would fire at most once
      * in a run, so it runs with 2. */
    def maybeCompact(after: String): Unit = {
      writesSinceCompact += 1
      if (writesSinceCompact >= compactEvery) {
        writesSinceCompact = 0
        if (tracer != null) tracer.beginOp(s"$after/compact")
        acidPaths.foreach { case (name, dir) =>
          def published = Option(dir.listFiles()).getOrElse(Array.empty[File])
            .filter(f => f.isDirectory && !f.getName.startsWith("_")).toSet
          val before = published
          val t0 = System.nanoTime()
          val act = span("acid.compact") { Acid.maybeCompact(spark, dir.getPath, minDeltas = 2) }
          val written = (published -- before).toSeq.map(dirBytes).sum
          val t1 = System.nanoTime()
          span("acid.clean") { Acid.clean(dir.getPath) }
          Acid.refresh(spark, name)
          compactions += (((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, act, written,
            tracer != null))
        }
        if (tracer != null) tracer.endOp()
      }
    }

    def runOp(op: Op, keepOutput: Boolean): Done = {
      val id = op.index.toString
      val traced = tracer != null
      val residentBefore = if (traced) spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
      val filesBefore = if (traced) tableFiles() else Map.empty[String, Long]
      val deltas = if (traced) countDeltas() else 0
      if (traced) tracer.beginOp(id)
      var rows = 0L; var fp = ""; var err = ""; var result = Seq.empty[String]
      val t0 = System.nanoTime()
      try {
        def sink(df: DataFrame): Unit = {
          val (o, obs) = observed(df)
          span("query.plan") { o.queryExecution.executedPlan }
          val got = span("query.exec") { o.collect() }
          val m = obs.get
          rows = got.length
          fp = s"${m("n")}:${java.lang.Long.toHexString(m("h").asInstanceOf[Long])}"
          if (op.kind == "sql") result = got.map(_.json).toSeq
          if (keepOutput && op.kind == "query")
            spark.createDataFrame(got.toSeq.asJava, df.schema).coalesce(1)
              .write.mode("overwrite").parquet(new File(outDir, op.name).getPath)
        }
        op.kind match {
          case "query" =>
            sink(span("query.build") { Queries.byName(op.name).run(spark, data) })
          case "sql" =>
            op.statements.foreach { stmt =>
              val df = span("session.sql") { GraftSession.sql(spark, stmt) }
              if (stmt.toUpperCase.startsWith("SELECT")) sink(df)
            }
          case "acid" =>
            val dir = new File(acidRoot, op.name)
            dir.mkdirs()
            Files.copy(new File(data, s"${op.text}.parquet").toPath,
              new File(dir, s"${op.text}.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
            Acid.register(spark, op.name, dir.getPath)
        }
      } catch {
        case e: Throwable =>
          err = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
            .linesIterator.take(3).mkString(" | ")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      var residentNew = 0
      var written = 0L
      if (traced) {
        tracer.endOp()
        residentNew = (spark.sparkContext.getPersistentRDDs.keySet -- residentBefore).size
        // bytes of the files the op created or replaced
        written = tableFiles().collect { case (f, n) if !filesBefore.get(f).contains(n) => n }.sum
      }
      val d = Done(op, traced, t0, secs, rows, fp, err, result, residentNew, deltas, written)
      if (op.kind == "sql" && !op.isRead) maybeCompact(id)
      d
    }

    done ++= byPass.getOrElse(-1, Vector.empty).map(runOp(_, keepOutput = false))
    val setupSeconds = (System.nanoTime() - setupStart) / 1e9

    // ---- warm-up: untimed for the stream, part of set-up ----
    val w0 = System.nanoTime()
    byPass.getOrElse(0, Vector.empty).foreach(op => done += runOp(op, keepOutput = true))
    val warmupSeconds = (System.nanoTime() - w0) / 1e9

    if (traceOn) {
      tracer = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tracer.listener)
      spark.listenerManager.register(tracer.planListener)
    }
    val traceHandle = tracer
    tracer = null
    writesSinceCompact = 0
    compactions.clear()

    // ---- the measured stream: `--passes` whole passes ----
    val streamStart = System.nanoTime()
    def elapsed = (System.nanoTime() - streamStart) / 1e9
    val passTraced = byPass.keys.filter(_ > 0).toSeq.sorted.take(passCount).zipWithIndex
      .map { case (p, pi) =>
        val traced = traceOn && pi % 2 == 1
        val p0 = System.nanoTime()
        tracer = if (traced) traceHandle else null
        byPass(p).foreach(op => done += runOp(op, keepOutput = false))
        tracer = null
        (p, traced, (System.nanoTime() - p0) / 1e9)
      }
    val streamSeconds = elapsed

    // ---- untimed: final table contents for the output check ----
    val finals = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val finalDir = new File(work, "final")
    val finalTables = acidPaths.map(_._1) ++
      spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSeq
    finalTables.foreach { t =>
      val df = spark.table(t)
      df.write.mode("overwrite").parquet(new File(finalDir, t).getPath)
      val dir = acidPaths.toMap.getOrElse(t, new File(warehouse, t.toLowerCase))
      finals(t) = (df.count(), dirBytes(dir))
    }

    // ---- result.json ----
    val vmHwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val result = Map(
      "setup_seconds" -> setupSeconds,
      "warmup_seconds" -> warmupSeconds,
      "stream_seconds" -> streamSeconds,
      "cores" -> cores,
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "jvm" -> (s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}, " +
        s"max heap ${Runtime.getRuntime.maxMemory / (1L << 20)} MB"),
      "spark" -> spark.version,
      "passes" -> passTraced.map { case (p, t, s) =>
        Map("pass" -> p, "traced" -> t, "seconds" -> s) },
      "ops" -> done.map { d => Map(
        "index" -> d.op.index, "pass" -> d.op.pass, "kind" -> d.op.kind,
        "name" -> d.op.name, "read" -> d.op.isRead, "traced" -> d.traced,
        "start_s" -> (d.startNs - streamStart) / 1e9, "seconds" -> d.seconds,
        "rows" -> d.rows, "fingerprint" -> d.fingerprint, "error" -> d.error,
        "result" -> d.result, "resident_new" -> d.residentNew, "deltas" -> d.deltas,
        "table_bytes_written" -> d.tableBytesWritten) },
      "compactions" -> compactions.map { case (c, cl, act, w, t) => Map(
        "compact_s" -> c, "clean_s" -> cl, "action" -> act, "bytes_written" -> w,
        "traced" -> t) },
      "oracles" -> plan.filter(_.kind == "query").map(_.name).distinct
        .map(q => q -> Queries.byName(q).oracle.orNull).toMap,
      "final_tables" -> finals.map { case (t, (rows, bytes)) =>
        t -> Map("rows" -> rows, "bytes" -> bytes) },
    ) ++ Option(traceHandle).map { t => Map(
      "spans" -> t.spans.map(s => Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - streamStart) / 1e9, "seconds" -> s.seconds)),
      "counters" -> t.counters.map { case (op, m) => op -> m.toMap }) }.getOrElse(Map.empty)
    Files.write(new File(work, "result.json").toPath,
      Serialization.write(result)(DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }

  /** xxhash64 rejects maps; such columns are hashed as their JSON. */
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def files(f: File): Seq[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .flatMap(files)
    else if (f.isFile) Seq(f.getPath -> f.length())
    else Nil

  def dirBytes(f: File): Long = files(f).map(_._2).sum
}
