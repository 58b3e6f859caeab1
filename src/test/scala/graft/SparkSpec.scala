package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session — never stop per-suite

  /** Spark jobs `f` launches on this thread's job group, counted after
    * the listener bus has delivered every event. */
  protected def jobsOf(f: => Unit): Int = jobsAndShuffleRecordsOf(f)._1

  /** As `jobsOf`, plus the shuffle records the tasks of those jobs
    * wrote. */
  protected def jobsAndShuffleRecordsOf(f: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
          _.getProperty("spark.jobGroup.id") == group)) {
          n.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(
            e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    org.apache.spark.SpecBridge.drainListeners(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      f
      org.apache.spark.SpecBridge.drainListeners(sc)
      (n.get, records.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  /** Shuffle/block-manager scratch pinned OFF /tmp: this box purges
    * /tmp mid-session, which killed 15 tests in round 15 with
    * FileNotFoundException on blockmgr temp_shuffle files (VERDICT r15
    * #1). Same discipline as Bench.scala. spark.local.dir is a static
    * conf read at SparkContext creation, so pinning it here covers
    * every session sharing this JVM's context. */
  private val localDir = {
    val d = new java.io.File("target/jvm-tmp")
    d.mkdirs()
    d.getAbsolutePath
  }

  lazy val session: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Functions.register(s)
    s
  }
}
