package graft

import org.apache.spark.sql.SparkSession

/** GraftSession bootstrap: a reference user's one-call entry point. */
class GraftSessionSpec extends SparkSpec {

  test("the builder's session runs on 1 MiB Tungsten pages") {
    // Spark derives the page from the heap (64 MiB in an 8 GB JVM), and
    // every broadcast hash relation holds at least one page
    spark.range(1).collect()
    assert(org.apache.spark.SpecBridge.pageSizeBytes == (1L << 20))
  }

  test("local() yields a session with functions, confs, and SQL surface") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.local(cores = 2)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.sql("SELECT field('b','a','b') AS f").collect().head.getLong(0) == 2L)
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("localWithTables registers the full catalog for spark.sql") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.localWithTables("/root/testdata/sf0.001")
      val n = s.sql("SELECT count(*) AS n FROM lineitem").collect().head.getLong(0)
      assert(n == 6000L)
      assert(s.sql("SELECT mask_hash(r_name) FROM region").count() == 5)
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("TABLESAMPLE percent and row sampling (SplitSample)") {
    // ref: ql/parse/SplitSample.java — percent/row-count sampling next to
    // the bucket form (q66). Rows form is an exact count; percent form is
    // a per-row Bernoulli draw, so assert broad bounds, and seeded
    // df.sample is reproducible.
    import spark.implicits._
    spark.range(0, 10000).toDF("id").createOrReplaceTempView("ts_src")
    val rows =
      spark.sql("SELECT * FROM ts_src TABLESAMPLE (25 ROWS)").count()
    assert(rows == 25L)
    val pct =
      spark.sql("SELECT * FROM ts_src TABLESAMPLE (10 PERCENT)").count()
    assert(pct > 400L && pct < 1800L, s"10% of 10k sampled $pct")
    val df = spark.table("ts_src")
    val a = df.sample(withReplacement = false, 0.1, seed = 42).count()
    val b = df.sample(withReplacement = false, 0.1, seed = 42).count()
    assert(a == b)
  }

  test("ResultPager pages a 10k-row result without a full collect") {
    import spark.implicits._
    val df = spark.range(0, 10000).select($"id", ($"id" * 2).as("v"))
      .orderBy("id")
    val pager = GraftSession.pager(df, pageSize = 1024)
    var total = 0L
    var pages = 0
    var first: Long = -1
    var page = pager.fetchNext()
    while (page.nonEmpty) {
      if (pages == 0) first = page.head.getLong(0)
      total += page.size
      pages += 1
      assert(page.size <= 1024)
      page = pager.fetchNext()
    }
    assert(total == 10000 && pages == 10 && first == 0L)
    assert(pager.position == 10000 && !pager.hasMore)
    // FETCH_FIRST rewinds to the first page
    val again = pager.fetchFirst()
    assert(again.head.getLong(0) == 0L && pager.position == 1024)
  }

  test("Hive-parity pins for built-ins the reference registers") {
    // soundex (FunctionRegistry.java:191), reflect (:269), factorial (:212)
    val r = spark.sql("""SELECT soundex('Robert'), soundex('Rupert'),
      reflect('java.lang.Integer', 'toHexString', 26),
      factorial(5), pmod(-7, 3), e() > 2.71, pi() > 3.14""").collect().head
    assert(r.getString(0) == "R163" && r.getString(1) == "R163")
    assert(r.getString(2) == "1a")
    assert(r.getLong(3) == 120L)
    assert(r.getInt(4) == 2, "pmod is positive (Hive semantics)")
    assert(r.getBoolean(5) && r.getBoolean(6))
  }

  test("HiveQL front door routes Hive-only statement forms end-to-end") {
    import spark.implicits._
    val t = "gs_frontdoor"
    Warehouse.dropTable(spark, t)
    Warehouse.createTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)

    // LOAD DATA INPATH (file move)
    val stage = java.nio.file.Files.createTempDirectory("fd").toString + "/in"
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(stage)
    GraftSession.sql(spark, s"LOAD DATA INPATH '$stage' INTO TABLE $t")
    assert(spark.table(t).count() == 3)

    // UPDATE ... SET ... WHERE
    GraftSession.sql(spark, s"UPDATE $t SET v = upper(v) WHERE id >= 2")
    val vs = spark.table(t).orderBy("id").collect().map(_.getString(1)).toSeq
    assert(vs == Seq("a", "B", "C"))

    // DELETE FROM ... WHERE
    GraftSession.sql(spark, s"DELETE FROM $t WHERE id = 1")
    assert(spark.table(t).count() == 2)

    // EXPORT / IMPORT round-trip
    val exp = java.nio.file.Files.createTempDirectory("fdexp").toString + "/t"
    GraftSession.sql(spark, s"EXPORT TABLE $t TO '$exp'")
    val t2 = "gs_frontdoor2"
    Warehouse.dropTable(spark, t2)
    GraftSession.sql(spark, s"IMPORT TABLE $t2 FROM '$exp'")
    assert(spark.table(t2).count() == 2)

    // TEMPORARY MACRO through the same door
    GraftSession.sql(spark,
      "CREATE TEMPORARY MACRO fd_double(x BIGINT) x * 2")
    assert(GraftSession.sql(spark, s"SELECT fd_double(id) FROM $t2 WHERE id = 2")
      .collect().head.getLong(0) == 4L)
    GraftSession.sql(spark, "DROP TEMPORARY MACRO fd_double")

    // plain SQL still flows through
    assert(GraftSession.sql(spark, "SELECT 40 + 2").collect().head.getInt(0) == 42)
    Warehouse.dropTable(spark, t)
    Warehouse.dropTable(spark, t2)
  }

  test("front door handles quoted literals, semicolons and LOCAL copy semantics") {
    import spark.implicits._
    val t = "gs_fd_edge"
    Warehouse.dropTable(spark, t)
    Warehouse.createTable(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), t)

    // commas and the word WHERE inside string literals must not split
    GraftSession.sql(spark,
      s"UPDATE $t SET v = 'a,b where c''d' WHERE id = 1;")
    val vs = spark.table(t).orderBy("id").collect().map(_.getString(1)).toSeq
    assert(vs == Seq("a,b where c'd", "y"))

    // trailing semicolon routes (not a Spark parse error)
    GraftSession.sql(spark, s"DELETE FROM $t WHERE id = 2;")
    assert(spark.table(t).count() == 1)

    // LOCAL INPATH copies — the staged source files survive
    val stage = java.nio.file.Files.createTempDirectory("fdl").toString + "/in"
    Seq((7L, "z")).toDF("id", "v").coalesce(1).write.parquet(stage)
    GraftSession.sql(spark, s"LOAD DATA LOCAL INPATH '$stage' INTO TABLE $t")
    assert(spark.table(t).count() == 2)
    assert(new java.io.File(stage).listFiles()
      .exists(_.getName.endsWith(".parquet")), "LOCAL must copy, not move")
    Warehouse.dropTable(spark, t)
  }

  test("LOAD DATA PARTITION values are read quote-aware") {
    import spark.implicits._
    val t = "gs_fd_pspec"
    Warehouse.dropTable(spark, t)
    Warehouse.createTable(Seq((1L, "a", "x")).toDF("id", "v", "p"),
      t, partitionBy = Seq("p"))
    def load(spec: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("fdps").toString + "/in"
      Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(stage)
      GraftSession.sql(spark,
        s"LOAD DATA INPATH '$stage' INTO TABLE $t PARTITION ($spec)")
    }
    // a comma inside the quoted value belongs to the value
    load("p='a,b'")
    // double quotes delimit the value like single quotes do
    load("p=\"1\"")
    val got = spark.table(t).select("p").as[String].collect().toSet
    assert(got == Set("x", "a,b", "1"), got)
    Warehouse.dropTable(spark, t)
  }

  test("/* */ comments are not code in UPDATE on plain and ACID tables") {
    import spark.implicits._
    val stmt = "UPDATE %s SET a = 1 /* , b = 2 */ WHERE k = 1 /* where k */"
    val rows = Seq((1L, 0, 0), (2L, 0, 0)).toDF("k", "a", "b")
    def got(t: String): Set[(Long, Int, Int)] =
      spark.table(t).as[(Long, Int, Int)].collect().toSet
    val expected = Set((1L, 1, 0), (2L, 0, 0))
    val plain = "gs_fd_comment"
    Warehouse.dropTable(spark, plain)
    Warehouse.createTable(rows, plain)
    GraftSession.sql(spark, stmt.format(plain))
    assert(got(plain) == expected)
    Warehouse.dropTable(spark, plain)
    val path = java.nio.file.Files.createTempDirectory("gs-acid-comment").toString
    Acid.create(path)
    Acid.insertTxn(spark, path, rows)
    Acid.register(spark, "gs_fd_acid_comment", path)
    try {
      GraftSession.sql(spark, stmt.format("gs_fd_acid_comment"))
      assert(got("gs_fd_acid_comment") == expected)
    } finally Acid.deregister(spark, "gs_fd_acid_comment")
  }

  test("LOAD DATA without a PARTITION spec into a partitioned table is rejected") {
    import spark.implicits._
    val t = "gs_fd_part"
    Warehouse.dropTable(spark, t)
    Warehouse.createTable(Seq((1L, "a", 2020)).toDF("id", "v", "yr"),
      t, partitionBy = Seq("yr"))
    val stage = java.nio.file.Files.createTempDirectory("fdp").toString + "/in"
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(stage)
    val e = intercept[IllegalArgumentException] {
      GraftSession.sql(spark, s"LOAD DATA INPATH '$stage' INTO TABLE $t")
    }
    assert(e.getMessage.contains("PARTITION"))
    Warehouse.dropTable(spark, t)
  }

  test("EXPORT refuses a non-empty target; IMPORT preserves the provider") {
    import spark.implicits._
    val t = "gs_fd_orc"
    val t2 = "gs_fd_orc2"
    Warehouse.dropTable(spark, t)
    Warehouse.dropTable(spark, t2)
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) USING orc")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val exp = java.nio.file.Files.createTempDirectory("orcexp").toString + "/t"
    Warehouse.exportTable(spark, t, exp)
    intercept[IllegalArgumentException] {
      Warehouse.exportTable(spark, t, exp) // stale-merge hazard → refused
    }
    Warehouse.importTable(spark, t2, exp)
    assert(spark.table(t2).count() == 2) // reads as ORC, not parquet garbage
    val ddl = spark.sql(s"SHOW CREATE TABLE $t2").collect().head.getString(0)
    assert(ddl.toLowerCase.contains("orc"), ddl)
    Warehouse.dropTable(spark, t)
    Warehouse.dropTable(spark, t2)
  }

  test("window-spec synonym rewrite: DISTRIBUTE/SORT/CLUSTER BY only " +
    "inside over(...) and WINDOW ... AS (...)") {
    val in = "SELECT rank() over(distribute by a sort by b), x FROM t " +
      "DISTRIBUTE BY a SORT BY b"
    val out = GraftSession.hiveWindowCompat(in)
    assert(out.contains("over(partition by a order by b)"), out)
    // statement-level operators untouched
    assert(out.contains("DISTRIBUTE BY a SORT BY b"), out)
    val named = GraftSession.hiveWindowCompat(
      "SELECT sum(s) over w1 FROM t WINDOW w1 AS (distribute by a sort " +
        "by b rows between 2 preceding and current row), w2 as (sort by c)")
    assert(named.contains("(partition by a order by b rows between"), named)
    assert(named.contains("w2 as (order by c)"), named)
    // string literals survive
    val lit = GraftSession.hiveWindowCompat(
      "SELECT 'over (distribute by x)' FROM t")
    assert(lit.contains("'over (distribute by x)'"), lit)
  }

  test("window inheritance: >=3-hop chains resolve transitively and " +
    "duplicate names across scopes are not cross-wired") {
    // w2 must inherit w0's partition THROUGH w1, not merge against the
    // unresolved body "w0 order by b" (ref ql/parse/WindowingSpec.java
    // fillInWindowSpec recurses through the chain)
    val chain = GraftSession.hiveWindowCompat(
      "SELECT sum(x) over w2 FROM t WINDOW w0 AS (partition by a), " +
        "w1 AS (w0 order by b), " +
        "w2 AS (w1 rows between 1 preceding and current row)")
    assert(chain.contains(
      "w2 AS (partition by a order by b rows between 1 preceding and " +
        "current row)"), chain)
    assert(chain.contains("w1 AS (partition by a order by b)"), chain)
    // a name defined in two query blocks is ambiguous at the
    // statement-string level — leave both OVER (w) references untouched
    val dup = "SELECT * FROM (SELECT rank() over w FROM t " +
      "WINDOW w AS (partition by a order by a)) s1 JOIN " +
      "(SELECT rank() over w FROM u WINDOW w AS (partition by b order " +
      "by b)) s2"
    val dupOut = GraftSession.hiveWindowCompat(dup)
    assert(dupOut.contains("WINDOW w AS (partition by a order by a)"), dupOut)
    assert(dupOut.contains("WINDOW w AS (partition by b order by b)"), dupOut)
    // self-referential cycle falls through untouched for Spark's error
    val cyc = GraftSession.hiveWindowCompat(
      "SELECT sum(x) over w1 FROM t WINDOW w1 AS (w2 order by a), " +
        "w2 AS (w1 rows unbounded preceding)")
    assert(cyc.contains("w1 AS (w2 order by a)"), cyc)
  }

  test("Hive forward CTE references reorder into dependency order") {
    Tables.register(spark, "/root/testdata/sf0.001")
    // Hive 1.2 resolves the whole WITH map before expansion, so q1 may
    // reference the later-defined q2 (cbo_views.q) — Spark needs order
    val df = GraftSession.sql(spark,
      """with q1 as (select n_nationkey k from q2 where n_regionkey = 0),
        |q2 as (select n_nationkey, n_regionkey from nation)
        |select count(*) c from q1""".stripMargin)
    assert(df.collect().head.getLong(0) == 5)
    // already-ordered lists untouched; a WITH in a string literal is not
    // a CTE clause
    val plain = GraftSession.sql(spark,
      "with a as (select 1 x), b as (select x from a) select * from b")
    assert(plain.collect().head.getInt(0) == 1)
    // three defs, reversed dependency chain
    val chain = GraftSession.sql(spark,
      """with c1 as (select y from c2), c2 as (select y from c3),
        |c3 as (select 7 y)
        |select * from c1""".stripMargin)
    assert(chain.collect().head.getInt(0) == 7)
  }

  test("GROUPING__ID rewrite: Hive 1.2 encoding, scope-aware") {
    Tables.register(spark, "/root/testdata/sf0.001")
    // full set = all bits set (LSB = first column), total row = 0
    val rows = GraftSession.sql(spark,
      """SELECT n_regionkey, n_nationkey % 2 AS p, GROUPING__ID, count(*)
        |FROM nation GROUP BY n_regionkey, n_nationkey % 2 WITH CUBE"""
        .stripMargin)
      .collect()
    val gids = rows.map(_.getInt(2)).toSet
    assert(gids == Set(0, 1, 2, 3), s"gids: $gids")
    // (key present, p aggregated) must be gid=1 — LSB is the FIRST col
    assert(rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .forall(_.getInt(2) == 1))
    // outer scope without grouping analytics: the column flows as data
    val outer = GraftSession.sql(spark,
      """SELECT GROUPING__ID, count(*) FROM (
        |  SELECT n_regionkey, GROUPING__ID FROM nation
        |  GROUP BY n_regionkey WITH ROLLUP) t
        |GROUP BY GROUPING__ID""".stripMargin).collect()
    assert(outer.map(_.get(0).toString.toInt).toSet == Set(0, 1))
  }

  test("front-door scanners skip -- comments, double quotes, backticks") {
    // a comment containing window keywords and an unbalanced quote/paren
    // must not skew the rewrite state (qtest statements keep comments)
    val c = GraftSession.hiveWindowCompat(
      "SELECT rank() over(sort by a) -- over(distribute by x ( '\n" +
        ", b FROM t")
    assert(c.contains("over(order by a)"), c)
    assert(c.contains("-- over(distribute by x ( '"), c)
    // double-quoted string literal with keywords/parens survives verbatim
    val dq = GraftSession.hiveWindowCompat(
      "SELECT \"over (distribute by x)\", rank() over(sort by a) FROM t")
    assert(dq.contains("\"over (distribute by x)\""), dq)
    assert(dq.contains("over(order by a)"), dq)
    // backticked identifier containing a quote char
    val bt = GraftSession.hiveWindowCompat(
      "SELECT `weird'col`, max(x) over(cluster by k) FROM t")
    assert(bt.contains("`weird'col`"), bt)
    val st = GraftSession.hiveStructCompat("SELECT `it's`, struct(a) FROM t")
    assert(st == "SELECT `it's`, hive_struct(a) FROM t", st)
    // cluster by → partition by, then Hive's default-order filling
    // (WindowingSpec rule 5) adds the partition keys as the order
    assert(bt.contains("over(partition by k order by k)"), bt)
    // GROUPING__ID rewrite with a comment carrying a stray paren still
    // resolves the statement's single GROUP BY scope
    Tables.register(spark, "/root/testdata/sf0.001")
    val rows = GraftSession.sql(spark,
      "SELECT n_regionkey, GROUPING__ID -- gid (hive 1.2 bit order\n" +
        "FROM nation GROUP BY n_regionkey WITH ROLLUP").collect()
    assert(rows.map(_.getInt(1)).toSet == Set(0, 1))
  }

  test("duplicate GROUPING SETS entries dedup like Hive 1.2") {
    Tables.register(spark, "/root/testdata/sf0.001")
    val df = GraftSession.sql(spark,
      "SELECT n_regionkey FROM nation GROUP BY n_regionkey " +
        "GROUPING SETS ((n_regionkey), (n_regionkey))")
    val plain = spark.sql(
      "SELECT n_regionkey FROM nation GROUP BY n_regionkey").count()
    assert(df.count() == plain)
  }

  test("nav fn inside a windowed aggregate: legal HiveQL through the " +
      "bare front door, restructured into a bounded two-window plan") {
    Tables.register(spark, "/root/testdata/sf0.001")
    // ref ql/udf/ptf/WindowingTableFunction.java — lead/lag evaluate
    // against the partition before the aggregate consumes the frame
    val df = GraftSession.sql(spark,
      "SELECT n_regionkey, n_name, sum(lag(n_nationkey, 2, 0)) over " +
        "(partition by n_regionkey order by n_name) AS s FROM nation " +
        "ORDER BY n_regionkey, n_name")
    val exp = spark.sql(
      "SELECT n_regionkey, n_name, sum(__l) over " +
        "(partition by n_regionkey order by n_name) AS s FROM " +
        "(SELECT *, lag(n_nationkey, 2, 0) over " +
        "(partition by n_regionkey order by n_name) AS __l FROM nation) t " +
        "ORDER BY n_regionkey, n_name")
    assert(df.collect().toSeq == exp.collect().toSeq)
    // bounded: two streaming windows, never a per-row partition copy
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), "must not fold via collect_list")
    // named-window form resolves and inlines
    val named = GraftSession.sql(spark,
      "SELECT n_name, avg(lead(n_nationkey, 1)) over w AS a FROM nation " +
        "WINDOW w AS (partition by n_regionkey order by n_name)")
    assert(named.count() == 25)
  }

  test("CREATE FUNCTION accepts Hive builtin classes and registers " +
      "the alias; rejects non-function classes (FunctionTask parity)") {
    Tables.register(spark, "/root/testdata/sf0.001")
    // a Hive builtin implementation class registers an engine-builtin
    // alias (VERDICT r09 #3: must work through the bare front door)
    GraftSession.sql(spark, "CREATE TEMPORARY FUNCTION mysum AS " +
      "'org.apache.hadoop.hive.ql.udf.generic.GenericUDAFSum'")
    val s = GraftSession.sql(spark,
      "SELECT mysum(n_regionkey) AS s FROM nation").collect().head.getLong(0)
    assert(s == spark.sql(
      "SELECT sum(n_regionkey) FROM nation").collect().head.getLong(0))
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS mysum")
    // a loadable class that is NOT a function implementation rejects
    // (clientnegative/create_function_nonudf_class.q)
    val e = intercept[IllegalArgumentException] {
      GraftSession.sql(spark,
        "CREATE TEMPORARY FUNCTION bad AS 'java.lang.String'")
    }
    assert(e.getMessage.contains("does not implement a function"))
    // an unknown/unloadable class rejects like Hive's "Class not found"
    intercept[IllegalArgumentException] {
      GraftSession.sql(spark,
        "CREATE TEMPORARY FUNCTION bad2 AS 'no.such.Clazz'")
    }
  }

  test("negative checks scan code only: rejection keywords inside " +
      "string literals and comments are inert (ADVICE r09)") {
    Tables.register(spark, "/root/testdata/sf0.001")
    // LINES TERMINATED BY inside a literal must not reject
    val rows = GraftSession.sql(spark,
      "SELECT 'LINES TERMINATED BY ''x''' AS doc, n_name FROM nation " +
        "-- USING 'cat' AS (a, a)\nWHERE n_regionkey = 0").collect()
    assert(rows.length == 5)
    // ... while the real clause with a non-newline terminator rejects
    intercept[IllegalArgumentException] {
      GraftSession.sql(spark, "CREATE TABLE t_lt (a int) ROW FORMAT " +
        "DELIMITED LINES TERMINATED BY 'x'")
    }
    // and a real duplicate TRANSFORM alias rejects (Hive error 10074)
    intercept[IllegalArgumentException] {
      GraftSession.sql(spark, "SELECT TRANSFORM (n_name) USING 'cat' " +
        "AS (a, a) FROM nation")
    }
  }
}
