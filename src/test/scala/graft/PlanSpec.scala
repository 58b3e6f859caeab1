package graft

import org.apache.spark.sql.functions._

/** Plan-quality assertions — the properties that make queries survive a
  * 100× scale-up: filter/projection pushdown to the parquet scan,
  * broadcast joins for small dims, whole-stage codegen (no interpreted
  * UDFs), partial aggregation, and shuffle elision where layout allows. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.register(spark, dir)
  }

  private def plan(name: String): String =
    Queries.byName(name).run(spark, dir).queryExecution.executedPlan.toString

  test("q01 pushes the shipdate filter and prunes columns at the scan") {
    val p = plan("q01_agg_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach parquet:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      "untouched columns must not be read")
  }

  test("q01 aggregates in two phases (partial + final)") {
    val p = plan("q01_agg_filter")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q05 six-table join broadcasts the small dimensions") {
    val p = plan("q05_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"dims (nation/region/supplier) must broadcast:\n$p")
  }

  test("whole-stage codegen covers the relational core queries") {
    for (q <- Seq("q01_agg_filter", "q03_join_agg_topn", "q13_groupby_having")) {
      val p = Queries.byName(q).run(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.CodegenMode)
      assert(p.contains("WholeStageCodegen subtrees"), s"$q lost codegen:\n${p.take(400)}")
    }
  }

  test("no interpreted ScalaUDF anywhere in the query inventory") {
    for (q <- Queries.all) {
      val p = Queries.byName(q.name).run(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"${q.name} uses a UDF:\n$p")
    }
  }

  test("no graft expression is a CodegenFallback across the inventory") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
    // every custom SCALAR expression must implement doGenCode — a
    // fallback node forces the WHOLE surrounding projection out of
    // generated code. TypedImperativeAggregates are excluded: Spark's
    // own contract makes them CodegenFallback (they execute inside
    // ObjectHashAggregate, outside row-level codegen, by design).
    for (q <- Queries.all) {
      val fallbacks = Queries.byName(q.name).run(spark, dir)
        .queryExecution.optimizedPlan
        .collect { case p => p.expressions.flatMap(_.collect {
          case e: CodegenFallback
              if e.getClass.getName.startsWith("graft.") &&
                !e.isInstanceOf[ImperativeAggregate] => e
        })}.flatten
      assert(fallbacks.isEmpty,
        s"${q.name} carries interpreted graft expressions: " +
          fallbacks.map(_.getClass.getSimpleName).distinct.mkString(", "))
    }
  }

  test("generated code for the custom expressions actually compiles") {
    // with fallback disabled a Janino error surfaces instead of silently
    // reverting to interpreted eval — drive every converted expression
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for (q <- Seq("q105_png_headers", "q163_wav_pcm", "q123_normalize_text",
          "q178_fold_accents", "q57_token_count", "q59_text_quality",
          "q111_bitmap_family", "q55_ann_bruteforce", "q53_dedup_simhash",
          "q51_dedup_minhash", "q54_embed_neardup")) {
        assert(Queries.byName(q).run(spark, dir).count() >= 0)
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("top-N order+limit plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q15_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"), s"top-N must not global-sort:\n$p")
  }

  test("semi/anti joins plan as join types, not subquery re-execution") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("dedup candidate generation shuffles on band keys, not row data") {
    // the minhash pipeline's only wide exchanges are on (band, key) and the
    // id-pair join — the shingle arrays never shuffle with the full rows.
    // Inspect the lazy pipeline (the public wrapper pins its result,
    // truncating the plan to a Scan ExistingRDD).
    val idx = graft.operators.Dedup.buildMinhashIndex(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val p = WorkingSet.using(idx.shingled, idx.banded) {
      graft.operators.Dedup.minhashPipeline(idx, threshold = 0.5,
        maxBucket = 1000).queryExecution.executedPlan.toString
    }
    assert(p.contains("Exchange"), "banding is a shuffle by design")
  }

  test("Q19-shape disjunctive predicate pushes per-side filters to scans") {
    // Catalyst extracts the union of each disjunct's single-side
    // constraints (quantity bands → lineitem scan; brand/size → part
    // scan) from the OR-of-ANDs join predicate
    val df = Queries.byName("q114_disjunctive_join").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(l => l.contains("lineitem") &&
      l.contains("Or(") && l.contains("l_quantity")),
      s"quantity bands must reach the lineitem scan:\n${pushed.mkString("\n")}")
    assert(pushed.exists(l => l.contains("part") && l.contains("p_brand")),
      s"brand disjuncts must reach the part scan:\n${pushed.mkString("\n")}")
  }

  test("runtime bloom filter from a selective dim prunes the fact shuffle") {
    // the third skew/volume weapon next to broadcast and AQE: a bloom
    // filter built from the filtered dim's join keys is pushed into the
    // fact scan side, dropping non-matching rows BEFORE the shuffle —
    // at 100 TB this is the difference between shuffling the whole
    // fact table and shuffling the ~matching slice
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // test-scale tables are far below the production thresholds; relax
      // them so the rule fires, and disable broadcast so a shuffle join
      // (the 100 TB fact-fact case) is actually planned
      spark.conf.set(keys(0), "10GB")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "-1")
      val li = Tables.load(spark, dir, "lineitem")
      val ord = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
        s"expected runtime bloom filter creation + probe in plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // one hot key with 50k rows; dim too large to list per-row
    val fact = spark.range(0, 60000)
      .select($"id".as("rid"),
        when($"id" < 50000, lit(7L)).otherwise(pmod($"id", lit(100))).as("k"),
        ($"id" * 2).as("v"))
    val dim = spark.range(0, 100).select($"id".as("k"), ($"id" + 1000).as("w"))
    val plain = fact.join(dim, Seq("k"))
    val salted = graft.operators.Joins.saltedJoin(fact, dim, "k", "rid", 8)
    assert(salted.count() == plain.count())
    // exact same result set
    assert(salted.select("k", "rid", "v", "w").exceptAll(
      plain.select("k", "rid", "v", "w")).isEmpty)
    // the hot key's rows really do land in multiple salt buckets
    val buckets = fact.withColumn("_salt",
      pmod(xxhash64($"rid"), lit(8))).filter($"k" === 7L)
      .select("_salt").distinct().count()
    assert(buckets >= 6, s"hot key must spread over salts, got $buckets")
  }

  test("AQE splits skewed join partitions at runtime (SkewJoinHandler)") {
    import spark.implicits._
    // one hot key carries ~90% of rows — the compile-time-undetectable
    // skew Hive handles with SkewJoinHandler side-files; AQE re-plans it
    val skewed = spark.range(0, 200000)
      .select(when(pmod($"id", lit(10)) =!= 0, lit(42L)).otherwise($"id").as("k"),
        $"id".as("v"))
    val dim = spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("w"))
    val pairs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = skewed.join(dim, "k")
      // execute THIS DataFrame (count() builds a separate QueryExecution
      // and the adaptive plan only finalizes on its own execution)
      // 180000 rows share k=42 (hot) + 100 cold ids land inside the dim
      assert(joined.collect().length == 180100)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.toLowerCase.contains("skew"),
        s"expected AQE skew handling:\n$finalPlan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition pruning reaches the scan for partitioned tables") {
    val t = "plan_part"
    Warehouse.dropTable(spark, t)
    Warehouse.createTable(
      Tables.load(spark, dir, "orders").withColumn("yr", year(col("o_orderdate"))),
      t, partitionBy = Seq("yr"))
    val p = spark.table(t).filter(col("yr") === 1997)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(yr"), s"pruning missing:\n$p")
    Warehouse.dropTable(spark, t)
  }

  test("round-4 ops keep scale-safe plans: no nested-loop joins, " +
    "broadcast join-backs, no window in zscore") {
    // triangle counting: every join is an equi-join — a cartesian or
    // BroadcastNestedLoopJoin here would be quadratic in |E|
    val tri = plan("q184_triangles")
    assert(!tri.contains("CartesianProduct") &&
      !tri.contains("BroadcastNestedLoopJoin"),
      s"triangle join must stay equi:\n$tri")
    // zscore: aggregate + broadcast join back — a Window would sort
    // every group's rows through one task
    val z = plan("q191_zscore")
    assert(!z.contains("Window"), s"zscore must not plan a window:\n$z")
    assert(z.contains("BroadcastHashJoin"),
      s"per-group stats must broadcast back:\n$z")
    // oovRate: the vocab side broadcasts; the token stream must not
    // shuffle for the membership join
    val o = plan("q189_oov_rate")
    assert(o.contains("BroadcastHashJoin"),
      s"vocab membership must be a broadcast join:\n$o")
    // weighted sample: distributed top-k, never a global sort
    val w = plan("q185_weighted_sample")
    assert(w.contains("TakeOrderedAndProject"),
      s"A-Res selection must plan as top-k:\n$w")
    // winsorize bounds join back broadcast
    val wz = plan("q190_winsorize")
    assert(wz.contains("BroadcastHashJoin"),
      s"bounds must broadcast back:\n$wz")
  }

  test("most-expensive headline queries keep their praised plan shapes " +
    "(sf1 top-cost audit, VERDICT r11 #8)") {
    // q168/q187: gram-hash candidate generation must be an equi-join on
    // the gram key — a cartesian/nested-loop here is quadratic in docs.
    // (q173_pagerank's returned frame is a post-loop checkpoint scan, so
    // its per-iteration shape is asserted in GraphSpec, not here.)
    for (q <- Seq("q168_shared_spans", "q187_containment",
        "q51_dedup_minhash")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidate stage must stay an equi-join:\n${p.take(3000)}")
    }
    // q195: below the selection threshold the rank windows must ride ONE
    // hash-partitioned exchange on the group column (no global sort)
    val rs = plan("q195_robust_scale")
    assert(!rs.contains("CartesianProduct"), s"q195 cartesian:\n${rs.take(2000)}")
  }

  test("q234_quantile_select plans the distributed SELECTION path " +
    "(bracket sketch + interior rank), not a full-group sort window") {
    // r16: the selection path pins its |groups|-row result with an eager
    // localCheckpoint (its persisted sketch/count intermediates run once
    // and release), so the RETURNED frame is an ExistingRDD scan and the
    // shape lives in the INTERNAL checkpoint action — captured with a
    // QueryExecutionListener (the PlanDrive pattern). qe.toString carries
    // the analyzed plan, where the original operators are visible.
    val captured =
      new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val p = try {
      val df = Queries.byName("q234_quantile_select").run(spark, dir)
      df.collect() // finalize AQE
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (captured.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      captured.asScala.mkString("\n")
    } finally spark.listenerManager.unregister(listener)
    assert(p.contains("percentile_approx"),
      s"selection path brackets ranks with the mergeable sketch:\n${p.take(2000)}")
    assert("""windowspecdefinition\(grp#""".r.findFirstIn(p).isEmpty,
      s"no full-group sort window allowed in the headline quantile plan:\n${p.take(3000)}")
  }

  test("chunk() is pure per-row work: no shuffle, stays in codegen") {
    import graft.operators.Packing
    val df = Packing.chunk(Tables.load(spark, dir, "documents"),
      "doc_id", "text", 32, 24)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"chunking must stay codegen'd:\n$p")
  }

  test("Hive MAPJOIN hint forces a broadcast join (ref HiveParser hint grammar)") {
    // Hive's /*+ MAPJOIN(t) */ (ql/parse/HiveParser.g hintClause,
    // ql/optimizer/MapJoinProcessor.java) is accepted verbatim: Spark's
    // join-strategy hint resolver aliases MAPJOIN to BROADCAST. Disable
    // size-based broadcasting so only the hint can produce the plan.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "-1")
      Tables.register(spark, dir)
      val hinted = spark.sql("""
        SELECT /*+ MAPJOIN(nation) */ n_name, count(*) AS c
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")
      hinted.collect()
      val p = hinted.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"MAPJOIN hint ignored:\n$p")
      // without the hint the same query plans a shuffle join
      val bare = spark.sql("""
        SELECT n_name, count(*) AS c
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")
      bare.collect()
      assert(!bare.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"), "control query should shuffle-join")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("prefix sum distributes: local windows per partition + tiny broadcast offsets") {
    import graft.operators.Packing
    val df = Packing.withTokensBefore(
      Tables.load(spark, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n")),
      "doc_id", "n")
    df.collect() // finalize AQE on this same DataFrame
    val p = df.queryExecution.executedPlan.toString
    // the data-bearing window partitions by __pid — never a global
    // single-partition sort over the corpus
    assert(p.contains("windowspecdefinition(__pid"),
      s"expected per-partition local windows:\n$p")
    // offsets come back via broadcast, not a shuffled join
    assert(p.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$p")
  }

  test("scd2 windows ride one key shuffle; point-in-time join is keyed, " +
    "never a nested loop") {
    import graft.operators.Cdc
    val events = Tables.load(spark, dir, "events")
    val hist = Cdc.scdType2(events, Seq("user_id"), Seq("ts", "event_id"),
      Seq("event_type"), "ts")
    val hp = hist.queryExecution.executedPlan.toString
    // change-detect lag + valid_to lead partition identically: Catalyst
    // must plan ONE hashpartitioning exchange on user_id, and never a
    // global (single-partition) window sort
    assert(hp.sliding("hashpartitioning(user_id".length)
      .count(_ == "hashpartitioning(user_id") == 1,
      s"scd2 must shuffle once on the key:\n$hp")
    assert(!hp.contains("SinglePartition"),
      s"scd2 must never globally sort:\n$hp")
    val pit = Cdc.pointInTimeJoin(
      events.select(col("event_id"), col("user_id"), col("ts")),
      hist, Seq("user_id"), "ts")
    pit.collect() // finalize AQE
    val pp = pit.queryExecution.executedPlan.toString
    assert(!pp.contains("BroadcastNestedLoopJoin") &&
      !pp.contains("CartesianProduct"),
      s"point-in-time join must stay keyed:\n$pp")
  }

  test("setsim exact join: candidate stage is an equi-join on prefix " +
    "tokens, never a nested loop") {
    val ordered = graft.operators.SetSim.orderedTokens(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    WorkingSet.using(ordered) {
      val pairs = graft.operators.SetSim.jaccardPipeline(ordered, 0.5, 0)
      pairs.collect() // finalize AQE
      val p = pairs.queryExecution.executedPlan.toString
      // the size filter rides the token equi-join as a post-condition;
      // a CartesianProduct/BNLJ here would be the all-pairs plan the
      // prefix filter exists to avoid
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"setsim candidate join must stay equi:\n$p")
    }
  }

  test("working-set residency: no registry query leaves orphaned " +
    "persisted blocks once its result is consumed") {
    // each query's result is consumed the way Bench does (noop sink);
    // every RDD persisted since the query started must be reachable from
    // the returned frame (a pin it reads, a cached relation in its plan)
    // or already released. The reachable pins are then released.
    val orphaned = Queries.all.flatMap { q =>
      val before = Residency.resident(spark)
      val df = q.run(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val orphans = Residency.orphans(spark, before, df)
      WorkingSet.release(df)
      if (orphans.isEmpty) None
      else Some(s"${q.name}: ${orphans.size} orphaned RDD(s)")
    }
    assert(orphaned.isEmpty, orphaned.mkString("\n"))
  }

  test("tokenize-once: every tokenize/shingle expression is evaluated " +
    "once per row in the executed plans of the text operators") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, StringSplit}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object Walk extends AdaptiveSparkPlanHelper
    // the operators bind each tokenize with TextOps.explodeOnce(If); a
    // plain alias + filter(size(...)) would be inlined by the optimizer
    // into both the Filter and the Generate, so the same split/shingle
    // expression would appear (and run) twice in one plan. A cached
    // relation's build plan is checked as a plan of its own.
    val captured = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    import scala.jdk.CollectionConverters._
    // the plans each binding site ran, so every site is shown to be checked
    val plansOf = scala.collection.mutable.LinkedHashMap.empty[String, Seq[SparkPlan]]
    def capture(site: String)(body: => Unit): Unit = {
      captured.clear()
      body
      org.apache.spark.SpecBridge.drainListeners(spark.sparkContext)
      plansOf(site) = captured.asScala.toSeq
    }
    spark.listenerManager.register(listener)
    try {
      // q52 ngramJaccardPairs, q53 simhashNearDups, q145 Packing.chunk,
      // q166 bigramNll, q168 sharedSpans, q171 bpeTrain, q187
      // containmentPairs plus its quote planting, q226 SetSim
      for (q <- Seq("q52_ngram_jaccard", "q53_dedup_simhash",
          "q145_chunk_overlap", "q166_bigram_lm", "q168_shared_spans",
          "q171_bpe_train", "q187_containment", "q226_setsim_exact"))
        capture(q) {
          val df = Queries.byName(q).run(spark, dir)
          noop(df)
          WorkingSet.release(df)
        }
      capture("buildMinhashIndex") {
        val idx = graft.operators.Dedup.buildMinhashIndex(
          Tables.load(spark, dir, "documents"), "doc_id", "text")
        WorkingSet.using(idx.shingled, idx.banded) {
          noop(graft.operators.Dedup.minhashPipeline(idx, 0.5, 1000))
        }
      }
    } finally spark.listenerManager.unregister(listener)

    def nodes(p: SparkPlan): Seq[SparkPlan] = Walk.collectWithSubqueries(p) {
      case n => n
    }
    def withCacheBuilds(p: SparkPlan): Seq[SparkPlan] = p +: nodes(p).collect {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan
    }.flatMap(withCacheBuilds)
    def tokenizes(es: Seq[Expression]): Seq[Expression] = es.flatMap(_.collect {
      case e: StringSplit => e.canonicalized
      case e: graft.functions.ShingleSet => e.canonicalized
    })
    // each tokenize must occur once in its plan — not once in a Filter
    // and again in the Project or Generate above it. A scan's
    // DataFilters only prune files, so they don't count.
    val checked = for {
      (site, plans) <- plansOf.toSeq
      p <- plans.flatMap(withCacheBuilds)
      all = tokenizes(nodes(p).flatMap {
        case _: FileSourceScanExec => Nil
        case n => n.expressions
      })
      e <- all.distinct
    } yield (site, e, all.count(_ == e), p)
    val unchecked = plansOf.keys.toSet -- checked.map(_._1)
    assert(unchecked.isEmpty, s"no tokenizing plan captured for $unchecked")
    val twice = checked.filter(_._3 != 1)
    assert(twice.isEmpty, twice.map { case (site, e, n, p) =>
      s"$site: ${e.prettyName} evaluated ${n}× in one plan:\n" +
        p.treeString.take(3000)
    }.mkString("\n"))
  }
}
