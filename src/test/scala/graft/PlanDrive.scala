package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps `.explain("formatted")` for headline queries to
  * plans/r16/<query>_<suffix>.txt (SPARK_GRAFT_PLANS_DIR overrides) under a Bench-identical session
  * (same master/core count, shuffle partitions, AQE flags), so the
  * committed plan artifacts reflect exactly what the bench executes.
  *
  * Several operators are driver-steered (eager localCheckpoint per
  * round, scalar sizing collects): their final frame is just an
  * ExistingRDD scan, so a QueryExecutionListener additionally captures
  * every INTERNAL action's executed plan during query construction and
  * the timed noop save — those are the plans whose shape matters.
  *
  * Usage: Test/runMain graft.PlanDrive <suffix> [query ...]
  *   suffix = before|after (file name suffix); no queries = all headline.
  */
object PlanDrive {
  def main(args: Array[String]): Unit = {
    val suffix = if (args.nonEmpty) args(0) else "before"
    val names =
      if (args.length > 1) Bench.headline.filter(args.drop(1).contains)
      else Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir",
        new java.io.File("target/jvm-tmp").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val captured =
      new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add((funcName, qe.explainString(FormattedMode)))
      override def onFailure(
          funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val outDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r16"))
    outDir.mkdirs()
    names.foreach { name =>
      captured.clear()
      val df = Queries.byName(name).run(spark, sfDir)
      val finalPlan = df.queryExecution.explainString(FormattedMode)
      df.write.format("noop").mode("overwrite").save()
      // listener callbacks are async — give the bus time to drain
      Thread.sleep(1500)
      val w = new java.io.PrintWriter(
        new java.io.File(outDir, s"${name}_$suffix.txt"), "UTF-8")
      try {
        w.println(s"== $name — final frame (formatted) ==")
        w.println(finalPlan)
        val it = captured.iterator()
        var i = 0
        while (it.hasNext) {
          val (fn, plan) = it.next()
          i += 1
          w.println(s"\n== internal action $i ($fn) ==")
          w.println(plan)
        }
      } finally w.close()
      println(s"[plan] wrote ${name}_$suffix.txt (${captured.size} actions)")
    }
    spark.stop()
  }
}
