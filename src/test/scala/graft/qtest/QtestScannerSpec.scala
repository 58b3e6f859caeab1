package graft.qtest

/** Pins what the qtest harness's text scanners return on representative
  * statements: script splitting, comment stripping, column-def and
  * select-list splitting, paren matching, top-level word search, partition
  * specs, CTAS column naming, the window-function retry rewrites and the
  * bucket/sort inference text model. The verbatim qtest gate exercises
  * these only when the reference checkout is present, so this spec keeps
  * them covered without it.
  */
class QtestScannerSpec extends graft.SparkSpec {

  test("script splitting keeps literals, escapes and comments intact") {
    val script =
      "-- header; with a semicolon and it's quote\n" +
        "SELECT 'a;b', \"c;d\" FROM t; -- trailing\n" +
        "SELECT 'it\\'s;' FROM t;\n" +
        "-- only a comment;\n" +
        ";\n" +
        "INSERT INTO t VALUES ('x''y;z')"
    assert(Qtest.splitStatements(script) == Seq(
      "-- header; with a semicolon and it's quote\n" +
        "SELECT 'a;b', \"c;d\" FROM t",
      "-- trailing\nSELECT 'it\\'s;' FROM t",
      "INSERT INTO t VALUES ('x''y;z')"))
    assert(Qtest.stripComments("SELECT '--x' -- gone\nFROM t -- end") ==
      "SELECT '--x' \nFROM t ")
    assert(Qtest.normalize("SELECT  a -- c\n ,b\tFROM t") == "SELECT a ,b FROM t")
  }

  test("script rules: /* is code, so a dfs glob ends at its semicolon") {
    val script = "dfs -ls ${system:test.warehouse.dir}/t/*;\n" +
      "dfs -rmr ${system:test.warehouse.dir}/t/*;\n" +
      "SELECT count(*) FROM t; SELECT 1 /* x */ FROM t"
    assert(Qtest.splitStatements(script) == Seq(
      "dfs -ls ${system:test.warehouse.dir}/t/*",
      "dfs -rmr ${system:test.warehouse.dir}/t/*",
      "SELECT count(*) FROM t",
      "SELECT 1 /* x */ FROM t"))
    assert(Qtest.stripComments("dfs -rmr /w/t/* -- x") == "dfs -rmr /w/t/* ")
  }

  test("CREATE TABLE column defs split at top level, nested types intact") {
    val runner = new QtestRunner(spark)
    val db = "qtest_scanner_spec_ddl"
    runner.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    runner.spark.sql(s"CREATE DATABASE $db")
    runner.spark.catalog.setCurrentDatabase(db)
    try {
      runner.execute("CREATE TABLE nested_t (a INT COMMENT 'x, (y', " +
        "m MAP<STRING,INT>, s STRUCT<p:INT,q:STRING>, d DECIMAL(10,2)) " +
        "PARTITIONED BY (ds STRING, hr INT)")
      val f = runner.spark.table("nested_t").schema.fields
      assert(f.map(_.name).toSeq == Seq("a", "m", "s", "d", "ds", "hr"))
      assert(f.map(_.dataType.simpleString).toSeq == Seq("int",
        "map<string,int>", "struct<p:int,q:string>", "decimal(10,2)",
        "string", "int"))
    } finally {
      runner.spark.catalog.setCurrentDatabase("default")
      runner.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("noop PTF, int-to-timestamp cast and double literals rewrite code only") {
    val runner = new QtestRunner(spark)
    val db = "qtest_scanner_spec_rw"
    runner.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    runner.spark.sql(s"CREATE DATABASE $db")
    runner.spark.catalog.setCurrentDatabase(db)
    try {
      runner.execute("CREATE TABLE rw_t (k INT, v STRING)")
      runner.execute("INSERT INTO rw_t VALUES (1000, 'a'), (2000, 'b')")
      def rows(q: String): Seq[String] =
        runner.execute(q)._2.get.collect().map(_.mkString("|")).toSeq.sorted
      assert(rows("SELECT k, v FROM noop(on rw_t partition by v order by k)")
        == Seq("1000|a", "2000|b"))
      assert(rows("SELECT k FROM noop(on noopwithmap(on rw_t " +
        "partition by k) partition by v)") == Seq("1000", "2000"))
      // Hive reads an integral as epoch millis; the AS inside the nested
      // cast is not the outer cast's top-level AS
      assert(rows("SELECT cast(cast(k AS int) AS timestamp) FROM rw_t") ==
        Seq("1970-01-01 00:00:01.0", "1970-01-01 00:00:02.0"))
      assert(rows("SELECT cast(k + 1 AS timestamp), 'as (x)' FROM rw_t") ==
        Seq("1970-01-01 00:00:01.001|as (x)", "1970-01-01 00:00:02.001|as (x)"))
    } finally {
      runner.spark.catalog.setCurrentDatabase("default")
      runner.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
    val r = new QtestRunner(spark)
    assert(r.hiveDoubleLiterals(
      "select 1.5, \"2.5\", 'it\\'s 3.5', x1.5, 4.5e1, 6. from t") ==
      "select 1.5D, \"2.5\", 'it\\'s 3.5', x1.5, 4.5e1, 6. from t")
  }

  test("LOAD DATA partition specs accept single and double quotes") {
    val runner = new QtestRunner(spark)
    val db = "qtest_scanner_spec_part"
    runner.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    runner.spark.sql(s"CREATE DATABASE $db")
    runner.spark.catalog.setCurrentDatabase(db)
    try {
      val f = java.nio.file.Files.createTempFile("graft-qtest-part", ".txt")
      java.nio.file.Files.write(f, "1a\n2b".getBytes("UTF-8"))
      runner.execute("CREATE TABLE pt (key INT, value STRING) " +
        "PARTITIONED BY (ds STRING, hr STRING)")
      runner.execute(s"LOAD DATA LOCAL INPATH '$f' INTO TABLE pt " +
        "PARTITION (ds=\"2008-04-08\", hr='11')")
      runner.execute(s"LOAD DATA LOCAL INPATH '$f' INTO TABLE pt " +
        "PARTITION (ds = '2008-04-09' , hr = 12)")
      val got = runner.spark.sql("SELECT ds, hr, count(*) FROM pt " +
        "GROUP BY ds, hr").collect().map(_.mkString("|")).toSet
      assert(got == Set("2008-04-08|11|2", "2008-04-09|12|2"))
    } finally {
      runner.spark.catalog.setCurrentDatabase("default")
      runner.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("CTAS column names split the select list at top level") {
    val r = new QtestRunner(spark)
    assert(r.hiveCtasColNames("select *, key + 1, concat(key, ',', value) " +
      "from src", Seq("key", "value", "(key + 1)", "concat(key, ,, value)"))
      == Some(Seq("key", "value", "c1", "c2")))
    assert(r.hiveCtasColNames("select * from (select key, count(*) " +
      "from src group by key) a", Seq("key", "count(1)")) ==
      Some(Seq("key", "_c1")))
    assert(r.hiveCtasColNames("select key, 'from' from src",
      Seq("key", "from")) == Some(Seq("key", "from")))
    assert(r.hiveCtasColNames("select a, b from t", Seq("a")) == None)
  }

  test("window retry rewrites find parens, args and clauses at top level") {
    val r = new QtestRunner(spark)
    assert(r.rewriteDistinctWindowing("select distinct p, " +
      "rank() over (partition by p order by o) from t where o > 1 " +
      "order by p") == Some("select  p, rank() over (partition by p " +
      "order by o)  from (select distinct p from  t ) __dist_t where o > 1 " +
      "order by p"))
    assert(r.rewriteDistinctWindowing("select p from t") == None)
    assert(r.rewriteHiveNumerics("select collect_set(x) over " +
      "(partition by p order by o) from t") == Some("select " +
      "array_distinct(collect_list(x) over (partition by p order by o)) " +
      "from t"))
    assert(r.rewriteHiveNumerics("select collect_set(x) over w from t " +
      "window w as (partition by p)") == Some("select " +
      "array_distinct(collect_list(x) over w) from t window w as " +
      "(partition by p)"))
    val nested = r.rewriteNestedWindowAgg("select sum(lag(x, 1, 0)) over " +
      "(partition by p order by o) from t")
    assert(nested.exists(_.contains("collect_list(named_struct('v', " +
      "cast(x as double))) over (partition by p order by o rows between " +
      "unbounded preceding and unbounded following)")), nested)
    assert(r.rewriteNestedWindowAgg("select sum(lag(x, 1)) over " +
      "(partition by p order by o rows 2 preceding) from t") == None)
  }

  test("bucket/sort inference reads clauses at top level, outside literals") {
    val cols = Seq("key", "value")
    assert(InferBucketSort.infer(
      "SELECT key, count(*) FROM src GROUP BY key", cols) ==
      ((1, Seq("key"), Seq(("key", 1)))))
    assert(InferBucketSort.infer("SELECT key, value FROM src " +
      "DISTRIBUTE BY key SORT BY value DESC", cols) ==
      ((1, Seq("key"), Seq(("value", 0)))))
    assert(InferBucketSort.infer("SELECT a.key, b.value FROM src a " +
      "JOIN src b ON (a.key = b.key)", cols) ==
      ((1, Seq("key"), Seq(("key", 1)))))
    assert(InferBucketSort.infer("SELECT key, value FROM (SELECT key, " +
      "value FROM src CLUSTER BY key) t", cols) ==
      ((1, Seq("key"), Seq(("key", 1)))))
    assert(InferBucketSort.infer(
      "SELECT key, 'x group by key' FROM src -- GROUP BY key", cols) ==
      ((-1, Nil, Nil)))
    assert(InferBucketSort.spliceFrom(
      "SELECT key, count(*) WHERE key > '(' GROUP BY key", "src") ==
      "SELECT key, count(*)  FROM src WHERE key > '(' GROUP BY key")
  }
}
