package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** Which persisted blocks a frame keeps alive — the residency invariant:
  * once a result is consumed, every RDD persisted on its behalf is either
  * reachable from it (a pin it reads, a cached relation in its plan) or
  * already released. */
object Residency {

  /** Ids of the RDDs the session holds persisted now. */
  def resident(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the persisted RDDs `df` reaches: the pins (LogicalRDD leaves)
    * and cached relations in its plan, and those inside the plans the
    * cached relations were built from. */
  def reachable(df: DataFrame): Set[Int] = {
    def physical(p: SparkPlan): Seq[Int] = p.collect {
      case s: RDDScanExec => Seq(s.rdd.id)
      case s: InMemoryTableScanExec => cached(s.relation)
    }.flatten
    def cached(r: InMemoryRelation): Seq[Int] =
      (if (r.cacheBuilder.isCachedColumnBuffersLoaded)
        Seq(r.cacheBuilder.cachedColumnBuffers.id) else Nil) ++
        physical(r.cacheBuilder.cachedPlan)
    def logical(p: LogicalPlan): Seq[Int] = p.collect {
      case lr: LogicalRDD => Seq(lr.rdd.id)
      case r: InMemoryRelation => cached(r)
    }.flatten
    // a fresh plan, so the cache lookup reflects what is cached now
    logical(df.select("*").queryExecution.withCachedData).toSet
  }

  /** Persisted RDDs created since `before` that no frame in `roots`
    * reaches. */
  def orphans(spark: SparkSession, before: Set[Int],
      roots: DataFrame*): Set[Int] =
    resident(spark) -- before -- roots.flatMap(reachable)
}
