package graft

import org.apache.spark.sql.functions._

/** Stage-by-stage timing of q184_triangles' pipeline at a given SF
  * (bench-identical session config), to attribute its cost between the
  * co-purchase graph construction and the triangle-count phases. */
object TriProfileDrive {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir",
        new java.io.File("target/jvm-tmp").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROF $label: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup
    Tables.load(s, dir, "lineitem").write.format("noop").mode("overwrite").save()

    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      val ss = array_sort(collect_set(col("sv")))
      val pairs = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull)
        .select(col("l_orderkey").as("o"),
          col("l_suppkey").cast("string").as("sv"))
        .groupBy("o").agg(ss.as("ss"))
        .select(explode(flatten(transform(col("ss"), (x, i) =>
          transform(slice(col("ss"), i + lit(2), size(col("ss"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .distinct()
      val sampled = pairs.filter(
        pmod(conv(substring(md5(concat(col("a"), lit(":"), col("b"))), 1, 15),
          16, 10).cast("long"), lit(17)) === 0)
      time("copurchase-sampled-new")(noop(sampled))
      val full = time("triangleCount-eager-construct")(
        graft.operators.Graph.triangleCount(sampled, "a", "b",
          assumeNormalized = true))
      time("triangleCount-noop")(noop(full))
      // manual decomposition of triangleCount's phases
      val und = sampled.select(col("a").cast("string").as("a"),
          col("b").cast("string").as("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("tc-und-materialize")(noop(und))
      val deg = und.select(col("a").as("v"))
        .union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      time("tc-deg")(noop(deg))
      val oriented = und
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
        .select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            struct(col("a").as("s"), col("b").as("t"), col("db").as("dt")))
            .otherwise(
              struct(col("b").as("s"), col("a").as("t"), col("da").as("dt")))
            .as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("tc-oriented-materialize")(noop(oriented))
      val wedges = oriented.select(col("s"), col("t").as("u"), col("dt").as("du"))
        .join(oriented.select(col("s"), col("t").as("w"), col("dt").as("dw")),
          Seq("s"))
        .filter(struct(col("du"), col("u")) < struct(col("dw"), col("w")))
        .select(col("s"), col("u"), col("w"))
      time("tc-wedges")(noop(wedges))
      val tris = wedges.join(
        oriented.select(col("s").as("u"), col("t").as("w")),
        Seq("u", "w"), "left_semi")
      val perNode = tris
        .select(explode(array(col("s"), col("u"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
      time("tc-perNode")(noop(perNode))
      val outp = deg.select(col("v").as("node"))
        .join(perNode, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("triangles"), lit(0L)).as("triangles"))
      time("tc-final-checkpoint")(outp.localCheckpoint(true))
      und.unpersist(false); oriented.unpersist(false)
    }
    s.stop()
  }
}
