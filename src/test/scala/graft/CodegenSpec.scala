package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Steady-state codegen: once a query has run, running it again must
  * find every generated class in Spark's compiled-class cache. */
class CodegenSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  /** Classes Janino compiled in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(queries: Seq[String]): Map[String, Long] =
    queries.map { q =>
      val before = compiles
      val df = Queries.byName(q).run(spark, dir)
      df.collect()
      WorkingSet.release(df)
      q -> (compiles - before)
    }.toMap

  test("warm registry queries compile no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // The five llm_ops_sf01 queries, plus q169 (its centroid pick used
    // an intermediate LIMIT, whose generated counter name comes from a
    // JVM-wide sequence) and q228 (its whole-stage class names carried
    // stage ids that follow AQE's stage completion order).
    val queries = Seq("q36_explode_words", "q51_dedup_minhash",
      "q145_chunk_overlap", "q147_pack_greedy", "q153_shuffle",
      "q169_semantic_dedup", "q228_scd2_incremental")
    pass(queries)
    pass(queries)
    // AQE re-plans as query stages finish, so a join can run as a
    // broadcast on one run and a sort-merge join on another, and a plan
    // variant not seen yet compiles its classes once. Those variants
    // are few and run out; a class whose code changes on every run
    // compiles on every pass. So one of three further passes must
    // compile nothing.
    val measured = Vector.fill(3)(pass(queries))
    assert(measured.exists(_.values.forall(_ == 0)),
      s"every warm pass compiled classes: ${measured.mkString("; ")}")
  }
}
