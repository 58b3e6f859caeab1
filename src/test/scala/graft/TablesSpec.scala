package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** The testdata catalog: loading a table again reuses its inferred
  * schema instead of running Spark's schema-inference job. */
class TablesSpec extends SparkSpec {

  test("a second load launches no job; a rewritten file or a parquet " +
      "conf change infers again") {
    val dir = Files.createTempDirectory(
      Paths.get(new java.io.File("target/jvm-tmp").getAbsolutePath), "tables-spec")
    val file = dir.resolve("nation.parquet")
    def copyAs(table: String): Unit = Files.copy(
      Paths.get(s"/root/testdata/sf0.001/$table.parquet"), file,
      StandardCopyOption.REPLACE_EXISTING)
    def load() = Tables.load(spark, dir.toString, "nation")
    try {
      copyAs("nation")
      assert(jobsOf(load()) >= 1, "the first load infers the schema")
      var again: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { again = load() } == 0)
      assert(again.count() == 25L)

      copyAs("region") // same path, another schema and size
      var rewritten: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { rewritten = load() } >= 1)
      assert(rewritten.schema ==
        spark.read.parquet("/root/testdata/sf0.001/region.parquet").schema)
      assert(rewritten.count() == 5L)

      // inference reads the session's parquet confs, so changing one
      // infers again
      val key = "spark.sql.parquet.binaryAsString"
      spark.conf.set(key, "true")
      try assert(jobsOf(load()) >= 1)
      finally spark.conf.unset(key)
    } finally {
      Files.deleteIfExists(file)
      Files.deleteIfExists(dir)
    }
  }
}
