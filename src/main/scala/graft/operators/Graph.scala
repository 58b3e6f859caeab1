package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.WorkingSet.{iterate, pin, release, using}

/** Iterative graph analytics over edge-list DataFrames — the power-method
  * family (PageRank here; label propagation lives in
  * `Dedup.connectedComponents`). Link analysis ranks hosts/domains for
  * crawl prioritization and quality weighting in a training-data
  * pipeline.
  *
  * Scale shape: each iteration is one shuffle-join of the rank table
  * with the (persisted) edge list plus a destination-keyed aggregate —
  * the same per-round cost profile as connectedComponents. Rank mass is
  * summed through exact decimals on rounded per-edge contributions, so
  * ranks are independent of partial-aggregation order (the repo-wide
  * float-determinism contract) and SQL-replayable.
  */
object Graph {

  /** PageRank over an edge list. Two operating modes:
    *
    * Default (`redistributeDangling = false, tol = 0`): the simplified
    * fixed-rounds contract — dangling nodes (no out-edges) leak their
    * mass and every node keeps receiving at least the teleport term.
    * Exactly `iters` rounds, zero driver-side actions per round, fully
    * SQL-replayable (the q173 oracle unrolls it as chained CTEs).
    *
    * Production mode: `redistributeDangling = true` conserves total
    * mass — each round the previous ranks of dangling nodes are summed
    * (one tiny exact-decimal aggregate) and handed back to every node
    * as damping·(danglingSum/|V|), so Σpr stays |V| and rank order no
    * longer depends on how many sinks the crawl frontier has. A
    * `tol > 0` adds convergence termination: the round's mean absolute
    * rank change (one count-sized aggregate per round — the bounded
    * driver-steered pattern, like bpeTrain's argmax) stops iteration
    * early, with `iters` as the hard cap.
    *
    * Returns (node, pr) with pr rounded to 9 decimals. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      redistributeDangling: Boolean = false, tol: Double = 0.0,
      assumeEdgesDistinct: Boolean = false,
      assumeAllNodesAreSources: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(tol >= 0.0, "tol must be >= 0")
    // decimal-exact teleport constant: 1 - 0.85 in binary doubles is
    // 0.15000000000000002, one ulp ABOVE the double a SQL oracle's
    // literal 0.15 parses to — compute it the way the replaying engine
    // will, or every rank is off by an ulp before rounding
    val teleport = (BigDecimal(1) - BigDecimal(damping)).toDouble
    // pre-partition the edge list on src: every round's rank join then
    // lines up with the checkpoint-preserved hash(node) layout of the
    // rank table, so the only per-round exchange is the mass aggregate.
    // One exchange, not distinct-then-repartition's two: dedup AFTER the
    // src repartition is globally correct (equal (src,dst) rows land in
    // the same src partition) and HashPartitioning(src) satisfies the
    // dedup aggregate's ClusteredDistribution(src,dst), so Catalyst
    // plans no second shuffle. Callers that already guarantee a
    // distinct edge list (q173 builds one by construction) skip the
    // dedup aggregate entirely via `assumeEdgesDistinct` — an
    // optimization hint, never a semantic change.
    val eRaw = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .repartition(col("src"))
    val e = if (assumeEdgesDistinct) eRaw else eRaw.dropDuplicates()
    using(e) {
      // the rank table carries the static out-degree so each round is
      // ONE edge join + one aggregate, not two joins; node table built
      // once and pinned (it anchors every round's left join).
      // outdeg groups on the persisted frame's own partitioning key —
      // exchange-free. For symmetrized graphs (every node has an
      // out-edge, e.g. q173's union of both directions) the outdeg
      // table IS the node table: `assumeAllNodesAreSources` skips the
      // union-distinct over 2|E| rows and its left join.
      val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val nodes = pin(if (assumeAllNodesAreSources)
          outdeg.select(col("src").as("node"), col("outdeg"))
        else e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .join(outdeg.withColumnRenamed("src", "node"), Seq("node"), "left"))
      val nV: Long =
        if (redistributeDangling || tol > 0) nodes.count() else 0L
      // a per-round cut is only REQUIRED when a driver scalar reads the
      // previous round each round (dangling mass / tol delta) — without
      // it those reads would recompute the whole chain per round. The
      // default fixed-rounds mode is a LINEAR chain (each round's rank
      // table is consumed exactly once by the next round), so
      // intermediate rounds need no materialization: one action
      // evaluates every round, saving a driver-blocking checkpoint job
      // per round; a periodic cut still bounds plan/optimizer growth
      // for large `iters`, and the FINAL round is pinned (the returned
      // frame must outlive the edge working set).
      val perRoundCut = redistributeDangling || tol > 0
      val cutEvery = 8
      // mean absolute rank change against the previous round, which is
      // still pinned while this runs
      def meanDelta(prevPr: DataFrame, pr: DataFrame): Boolean =
        pr.join(prevPr.select(col("node"), col("pr").as("__prev")), "node")
          .agg(sum(abs(col("pr") - col("__prev"))).as("d"))
          .head().getDouble(0) / nV <= tol
      val pr = iterate(nodes.withColumn("pr", lit(1.0)), iters,
          cutEvery = if (perRoundCut) 1 else cutEvery,
          until = if (tol > 0 && nV > 0) meanDelta else (_, _) => false) {
          prevPr =>
        // dangling mass of the PREVIOUS round: exact decimal sum over
        // the (usually small) outdeg-less slice, one scalar to the
        // driver, folded back in as a per-node constant
        val danglingPerNode: Double =
          if (redistributeDangling && nV > 0) {
            val s = prevPr.filter(col("outdeg").isNull)
              .agg(sum(col("pr").cast("decimal(28,9)")).as("s"))
              .head().getDecimal(0)
            if (s == null) 0.0 else s.doubleValue() / nV
          } else 0.0
        val contrib = e
          .join(prevPr.select(col("node").as("src"), col("outdeg"), col("pr")),
            "src")
          .select(col("dst"),
            round(col("pr") / col("outdeg"), 12)
              .cast("decimal(28,12)").as("w"))
          .groupBy("dst").agg(sum("w").as("mass"))
        nodes
          .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            round(lit(teleport) +
              lit(damping) * (coalesce(col("mass").cast("double"), lit(0.0)) +
                lit(danglingPerNode)),
              9).as("pr"))
      }
      // the final round's pin backs the returned frame (the one pinned
      // |V|-row copy — the connectedComponents contract); the node
      // anchor is no longer needed
      release(nodes)
      pr.select(col("node"), col("pr"))
    }
  }

  /** `hops` rounds of in-neighbor feature averaging (the GraphSAGE-mean
    * aggregation step, Hamilton et al. NeurIPS'17, as a data-prep
    * operator): round r gives every node the mean of its in-neighbors'
    * round-(r-1) values. Returns (node, n_nbrs, nbr_mean) for nodes
    * with at least one in-neighbor in the FINAL round; nodes outside
    * `features` contribute nothing.
    *
    * Scale shape: each hop is one edge join + one destination-keyed
    * aggregate — the `pageRank` per-round profile, with the same
    * determinism discipline: per-edge values round to 6 decimals and
    * sum as exact decimals, so hop-2-and-beyond means are independent
    * of partial-aggregation order and SQL-replayable. */
  def neighborhoodMean(
      edges: DataFrame, srcCol: String, dstCol: String,
      features: DataFrame, nodeCol: String, valCol: String,
      hops: Int): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
    using(e) {
      var f = features.select(col(nodeCol).cast("string").as("node"),
        col(valCol).cast("double").as("v"))
      for (_ <- 1 to hops) {
        f = e.join(f.select(col("node").as("src"), col("v")), "src")
          .groupBy(col("dst"))
          .agg(count(lit(1)).as("n_nbrs"),
            round(sum(round(col("v"), 6).cast("decimal(28,6)"))
              .cast("double") / count(lit(1)), 6).as("v"))
          .select(col("dst").as("node"), col("n_nbrs"), col("v"))
      }
      pin(f.select(col("node"), col("n_nbrs"), col("v").as("nbr_mean")))
    }
  }

  /** Bounded-round k-core peeling: `rounds` rounds of "compute degrees,
    * drop every node with degree < k, restrict edges to survivors".
    * Returns the nodes that still have degree ≥ k at round `rounds`,
    * with that round's degree. With enough rounds this converges to the
    * exact k-core (a round that removes nothing is a fixpoint); a small
    * fixed bound is usually enough in practice because peeling depth,
    * like near-dup cluster diameter, is shallow — and a FIXED bound is
    * what keeps the computation SQL-replayable round by round.
    *
    * Scale shape: per round, one degree aggregate + two semi-joins
    * against the (shrinking) survivor set — the connectedComponents
    * per-round cost profile, with the same eager-checkpoint lineage
    * cuts and release discipline. */
  def kCoreMembers(
      edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val und = edges
      .select(least(col(aCol).cast("string"), col(bCol).cast("string")).as("a"),
        greatest(col(aCol).cast("string"), col(bCol).cast("string")).as("b"))
      .filter(col("a").isNotNull && col("a") =!= col("b"))
      .distinct()
    def degrees(e: DataFrame) = e.groupBy("src").agg(count(lit(1)).as("degree"))
    // the final round only needs its degree table — restricting the edge
    // set again would be dead work (and the degrees must be pinned
    // BEFORE the edges they read are released)
    val e = iterate(pin(und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst")))),
        rounds - 1) { e =>
      val keep = degrees(e).filter(col("degree") >= k).select("src")
      e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    val out = pin(degrees(e).filter(col("degree") >= k)
      .select(col("src").as("node"), col("degree")))
    release(e)
    out
  }

  /** Exact per-node triangle counting by degree orientation
    * (compact-forward): every undirected edge is directed from its
    * (degree, id)-smaller endpoint to the larger, turning the graph into
    * a DAG where each wedge — and so each triangle — is enumerated
    * exactly once, at its (degree, id)-smallest vertex.
    *
    * Scale shape: the whole computation is three equi-joins and one
    * aggregate. Orientation is what makes the wedge join skew-safe: a
    * hub of degree d would naively generate d² wedge candidates, but
    * after orientation every vertex's out-degree is O(√m) on any graph
    * (edges "point up" the degree order), so per-key join fan-out is
    * bounded regardless of the degree distribution. Pair with
    * deterministic hash edge-sampling (DOULION, Tsourakakis et al.
    * KDD'09: keep each edge with probability 1/p, scale triangle counts
    * by p³) when even the oriented join is too large — the q184 query
    * composes exactly that.
    *
    * Returns (node, triangles) for every node incident to at least one
    * edge; self-loops and duplicate/reversed edges are tolerated. */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String,
      assumeNormalized: Boolean = false): DataFrame = {
    // `assumeNormalized` (optimization hint, never a semantic change):
    // the caller guarantees a < b, non-null, distinct edges — q184's
    // sampled co-purchase graph is built exactly so — and the
    // normalize + distinct exchange is skipped.
    val und =
      if (assumeNormalized)
        edges.select(col(aCol).cast("string").as("a"),
          col(bCol).cast("string").as("b"))
      else edges
        .select(least(col(aCol).cast("string"), col(bCol).cast("string")).as("a"),
          greatest(col(aCol).cast("string"), col(bCol).cast("string")).as("b"))
        .filter(col("a").isNotNull && col("a") =!= col("b"))
        .distinct()
    // one cache pass (explode) instead of union's two, and the degree
    // table is a working set too — it anchors BOTH orientation joins and
    // the final zero-fill join, which otherwise re-aggregate it three
    // times
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient toward the (degree, id)-larger endpoint; carry the head's
    // degree so the wedge filter can compare order keys without a
    // second degree join
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
    using(und, deg, oriented) {
      val wedges = oriented.select(col("s"), col("t").as("u"), col("dt").as("du"))
        .join(oriented.select(col("s"), col("t").as("w"), col("dt").as("dw")),
          Seq("s"))
        .filter(struct(col("du"), col("u")) < struct(col("dw"), col("w")))
        .select(col("s"), col("u"), col("w"))
      val tris = wedges.join(
        oriented.select(col("s").as("u"), col("t").as("w")),
        Seq("u", "w"), "left_semi")
      // one pass over the triangle set: each triangle credits all
      // three corners (explode, not three unioned rescans)
      val perNode = tris
        .select(explode(array(col("s"), col("u"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
      // pin the small |V|-row result BEFORE the edge working sets are
      // released — returning it lazy would silently recompute
      // und/oriented 3×
      pin(deg.select(col("v").as("node"))
        .join(perNode, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("triangles"), lit(0L)).as("triangles")))
    }
  }

  /** Synchronous label propagation (LPA) community detection — the
    * lightweight complement to `Dedup.connectedComponents`: components
    * find the reachability partition, LPA finds *dense* regions inside
    * it (near-duplicate web-host clusters, citation communities) in a
    * fixed number of rounds. Reference counterpart: graph analytics
    * family (SURVEY §2 pipeline additions), same additive status as
    * pageRank/triangleCount.
    *
    * Every vertex starts labeled with its own id; each round, every
    * vertex adopts the most frequent label among its in-neighbors, ties
    * broken toward the smallest label. Updates are synchronous (round
    * t+1 reads only round t's labels), so the result is deterministic
    * under any partitioning and replayable round-by-round in SQL — the
    * q-query oracle unrolls the rounds as chained CTEs. Vertices with no
    * in-edges keep their current label. Pass an edge list with both
    * directions present for undirected graphs (the pageRank convention).
    *
    * Scale shape: each round is one shuffle-join of the |V|-row label
    * table with the edge list plus a (dst, label)-keyed count — the
    * power-method cost profile; per-round labels are pinned (and the
    * previous round released) so lineage and residency stay bounded.
    * Returns (node, label) after `iters` rounds. */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    using(e) {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst"))).distinct()
      iterate(pin(nodes.select(col("node"), col("node").as("label"))),
          math.max(iters, 1)) { labels =>
        val freq = e
          .join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
        // most frequent label, ties to the smallest: min over (-c, label)
        val winner = freq
          .groupBy("node")
          .agg(min_by(col("label"), struct(-col("c"), col("label")))
            .as("new_label"))
        labels
          .join(winner, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_label"), col("label")).as("label"))
      }
    }
  }
}
