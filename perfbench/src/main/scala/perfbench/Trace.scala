package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's name
  * ("" for the op itself); spans of one op share `op`. */
final case class Span(name: String, op: String, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans plus listener counters for the traced passes.
  *
  * Every Spark job an op starts is tagged with `setJobGroup(op, span)`,
  * so the `SparkListener` charges job, stage and task counters to the op
  * and the span that caused them. Plan shapes come from a
  * `QueryExecutionListener`, which sees every executed plan, including
  * the eager ones a query runs while it is being built. Plan and block
  * events carry no job tag and are charged to the op in flight, so
  * `beginOp` and `endOp` drain the listener bus: events of untraced ops
  * or of the previous op never reach the next one. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** counters per op: metric name -> value */
  val counters = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  @volatile private var currentOp = ""
  private var stack = List.empty[String]
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()

  private def add(op: String, key: String, v: Double): Unit = counters.synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty[String, Double])
    m(key) = m.getOrElse(key, 0.0) + v
  }
  private def max(op: String, key: String, v: Double): Unit = counters.synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty[String, Double])
    m(key) = math.max(m.getOrElse(key, 0.0), v)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
      if (op != null) {
        val span = Option(e.properties.getProperty("spark.job.description"))
          .getOrElse("")
        add(op, "jobs", 1)
        add(op, s"jobs@$span", 1)
        e.stageIds.foreach(id => stageOwner.put(id, (op, span)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (op, _) =>
        add(op, "stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { case (op, _) =>
        add(op, "tasks", 1)
        if (!e.taskInfo.successful) add(op, "failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "run_s", m.executorRunTime / 1e3)
          add(op, "cpu_s", m.executorCpuTime / 1e9)
          add(op, "gc_s", m.jvmGCTime / 1e3)
          add(op, "scan_bytes", m.inputMetrics.bytesRead)
          add(op, "scan_rows", m.inputMetrics.recordsRead)
          add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(op, "shuffle_records", m.shuffleWriteMetrics.recordsWritten)
          add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add(op, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(op, "spill_bytes", m.diskBytesSpilled)
          max(op, "peak_exec_bytes", m.peakExecutionMemory)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (b.blockId.isRDD && bytes > 0 && currentOp.nonEmpty) {
        add(currentOp, "blocks_put", 1)
        add(currentOp, "bytes_put", bytes)
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (currentOp.nonEmpty) countPlan(currentOp, qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def countPlan(op: String, plan: SparkPlan): Unit = plan match {
    case a: AdaptiveSparkPlanExec => countPlan(op, a.executedPlan)
    case s: QueryStageExec => countPlan(op, s.plan)
    case p =>
      p match {
        case _: ShuffleExchangeExec => add(op, "exchanges", 1)
        case _: SortMergeJoinExec => add(op, "smj", 1)
        case _: BroadcastHashJoinExec => add(op, "bhj", 1)
        case _: BroadcastNestedLoopJoinExec => add(op, "bnlj", 1)
        case _ =>
      }
      p.children.foreach(countPlan(op, _))
      p.subqueries.foreach(countPlan(op, _))
  }

  def beginOp(op: String): Unit = {
    PerfbenchBridge.drainListeners(sc); currentOp = op; stack = Nil
  }

  def endOp(): Unit = { PerfbenchBridge.drainListeners(sc); currentOp = "" }

  /** Runs `f` as span `name` of the current op, with its Spark jobs
    * tagged (op, name); restores the enclosing span's tag afterwards. */
  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    sc.setJobGroup(currentOp, name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(name, currentOp, parent, t0, System.nanoTime())
      stack = stack.tail
      if (stack.nonEmpty) sc.setJobGroup(currentOp, stack.head) else sc.clearJobGroup()
    }
  }
}
