package graft.qtest

import graft.HiveQlText

/** Clean-room model of Hive's bucket/sort inference for written
  * partitions (`hive.exec.infer.bucket.sort`, ref
  * ql/optimizer/physical/BucketingSortingInferenceOptimizer.java +
  * BucketingSortingOpProcFactory.java): when the plan's FINAL stage is
  * a reduce whose keys land in the written columns, the partition's
  * metadata records those columns as bucketed (by the distribution
  * keys) and/or sorted (by the sort keys).
  *
  * This re-derivation works on the INSERT's select TEXT — the same
  * shadow-metadata approach as the DESC FORMATTED stats ledger: the
  * engine executes the statement through Spark (whose physical plan is
  * deliberately different), and the ledger answers what HIVE's MR
  * compilation would have recorded. Covered forms mirror the
  * infer_bucket_sort*.q goldens: trailing GROUP BY (incl. rollup/cube/
  * grouping sets, which append GROUPING__ID to the reduce key), JOIN
  * (first ON clause's equi-keys; Hive's merged-join reduce), DISTRIBUTE
  * BY / SORT BY / ORDER BY / CLUSTER BY, subquery propagation through
  * renames/reorders/WHERE/LATERAL VIEW (reduce-sink dedup keeps the
  * inner reduce when an outer distribute/sort re-keys on the same
  * columns), and TRANSFORM / map-side-hinted joins destroying both.
  * Out of model (excluded with cause in SURVEY §5): reducer-count
  * inference (numFiles/numBuckets > 1), auto-mapjoin conversion
  * simulation, and merge-task interactions.
  */
object InferBucketSort {

  /** (numBuckets, bucketCols, sortCols(name, 1 asc/0 desc)) in TARGET
    * column names; (-1, Nil, Nil) = final stage not an inferable reduce. */
  def infer(select: String, targetDataCols: Seq[String])
      : (Int, Seq[String], Seq[(String, Int)]) = {
    inferBlock(Qtest.stripComments(select)) match {
      case Some((bPos, sPos))
          if (bPos ++ sPos.map(_._1)).forall(_ < targetDataCols.length) =>
        val b = bPos.map(targetDataCols)
        val s = sPos.map { case (p, o) => (targetDataCols(p), o) }
        (if (b.nonEmpty) 1 else -1, b, s)
      case _ => (-1, Nil, Nil)
    }
  }

  /** Rebuild a multi-insert branch ("SELECT … GROUP BY …", no FROM)
    * into a standalone block with the statement's common FROM text. */
  def spliceFrom(branch: String, fromText: String): String = {
    val cut = HiveQlText(branch).firstKeyword("WHERE", "GROUP BY",
      "DISTRIBUTE BY", "SORT BY", "ORDER BY", "CLUSTER BY", "LIMIT")
      .getOrElse(branch.length)
    s"${branch.substring(0, cut)} FROM $fromText ${branch.substring(cut)}"
  }

  // positions are 0-based select-output positions
  private def inferBlock(sel0: String): Option[(Seq[Int], Seq[(Int, Int)])] = {
    val sel = sel0.trim
    if (!sel.toUpperCase.startsWith("SELECT")) return None
    val fromAt = HiveQlText(sel).firstKeyword("FROM").getOrElse(return None)
    val selectList = sel.substring("SELECT".length, fromAt)
    if (selectList.toUpperCase.contains("TRANSFORM")) return None
    val mapJoinHint =
      """(?is)/\*\+\s*MAPJOIN[^*]*\*/""".r.findFirstIn(selectList).isDefined
    val outputs = HiveQlText(
      """(?is)/\*\+[^*]*\*/""".r.replaceAllIn(selectList, "")).split(',')
      .map(parseOutput)
    val rest = sel.substring(fromAt + 4)
    val restText = HiveQlText(rest)

    // trailing clause spans (top-level, first occurrence each)
    def clause(kw: String): Option[String] =
      restText.firstKeyword(kw).map { i =>
        val from = i + kw.length
        val end = HiveQlText(rest.substring(from)).firstKeyword("WHERE",
          "GROUP BY", "DISTRIBUTE BY", "SORT BY", "ORDER BY", "CLUSTER BY",
          "LIMIT", "WITH ROLLUP", "WITH CUBE", "GROUPING SETS")
          .map(_ + from).getOrElse(rest.length)
        rest.substring(from, end).trim
      }
    val groupBy = clause("GROUP BY")
    val rollup = restText.firstKeyword("WITH ROLLUP", "WITH CUBE",
      "GROUPING SETS").isDefined
    val distBy = clause("DISTRIBUTE BY")
    val sortBy = clause("SORT BY")
    val orderBy = clause("ORDER BY")
    val clusterBy = clause("CLUSTER BY")

    def mapAll(keys: Seq[String]): Option[Seq[Int]] = {
      val pos = keys.map(k => matchPos(outputs, k))
      if (pos.forall(_.isDefined)) Some(pos.flatten) else None
    }
    def sortKeys(text: String): Seq[(String, Int)] =
      HiveQlText(text).split(',').map { k =>
        val t = k.trim
        val up2 = t.toUpperCase
        if (up2.endsWith(" DESC")) (t.dropRight(5).trim, 0)
        else if (up2.endsWith(" ASC")) (t.dropRight(4).trim, 1)
        else (t, 1)
      }

    // subquery propagation: FROM ( inner ) alias [where/lateral view …]
    lazy val innerMapped: Option[(Seq[Int], Seq[(Int, Int)])] = {
      val t = rest.trim
      if (!t.startsWith("(")) None
      else {
        // the statement already ran, so its parens balance
        val close = HiveQlText(t).matchParen(0)
        // an outer JOIN after the subquery is its own reduce — not
        // plain propagation (not exercised by the covered goldens)
        if (HiveQlText(t.substring(close + 1)).firstKeyword("JOIN").isDefined)
          None
        else inferBlock(t.substring(1, close)).flatMap {
          case (ibPos, isPos) =>
            // map inner output POSITIONS to outer positions via the
            // inner output NAME appearing as the outer expr's base
            val innerOuts = innerOutputNames(t.substring(1, close))
            def outer(p: Int): Option[Int] =
              innerOuts.lift(p).flatten.flatMap { n =>
                val i = outputs.indexWhere(o =>
                  lastIdent(o.expr).contains(n) || o.name.contains(n))
                if (i >= 0) Some(i) else None
              }
            val b = ibPos.map(outer)
            val s = isPos.map { case (p, o) => (outer(p), o) }
            if (b.forall(_.isDefined) && s.forall(_._1.isDefined))
              Some((b.flatten, s.map { case (p, o) => (p.get, o) }))
            else None
        }
      }
    }

    if (clusterBy.isDefined)
      mapAll(HiveQlText(clusterBy.get).split(','))
        .map(p => (p, p.map((_, 1))))
    else if (distBy.isDefined || sortBy.isDefined) {
      val dPos = distBy.map(d => mapAll(HiveQlText(d).split(',')))
      val sk = sortBy.map(sortKeys).getOrElse(Nil)
      val sPos = sk.map { case (k, o) => (matchPos(outputs, k), o) }
      if (dPos.exists(_.isEmpty)) return None
      val bucket = dPos.flatten.getOrElse(Nil)
      val sorts =
        if (sPos.forall(_._1.isDefined))
          sPos.map { case (p, o) => (p.get, o) }
        else Nil
      // ReduceSinkDeDuplication: re-keying a subquery already reduced
      // on the same columns merges the sinks — the inner (sorted)
      // reduce survives (infer_bucket_sort.q "followed by
      // distribute/sort by" goldens)
      innerMapped match {
        case Some((ib, is))
            if (bucket.nonEmpty && bucket == ib) ||
              (bucket.isEmpty && sorts.map(_._1) == is.map(_._1)) =>
          Some((ib, is))
        case _ =>
          if (bucket.isEmpty && sorts.isEmpty) None
          else Some((bucket, sorts))
      }
    } else if (orderBy.isDefined) {
      val sk = sortKeys(orderBy.get)
      val sPos = sk.map { case (k, o) => (matchPos(outputs, k), o) }
      if (sPos.forall(_._1.isDefined))
        Some((Nil, sPos.map { case (p, o) => (p.get, o) }))
      else None
    } else if (groupBy.isDefined) {
      // rollup/cube/grouping-sets add GROUPING__ID to the reduce key
      // when the select carries it; without it the plain keys still
      // bucket (the script comments say otherwise but the goldens pin
      // [key, value] — infer_bucket_sort_grouping_operators.q.out)
      val base = HiveQlText(groupBy.get).split(',')
      val withId =
        if (rollup) mapAll(base :+ "GROUPING__ID") else None
      withId.orElse(mapAll(base)).map(p => (p, p.map((_, 1))))
    } else {
      // join: first top-level ON clause's equi-conditions
      val joinAt = restText.firstKeyword("JOIN")
      if (joinAt.isDefined && !mapJoinHint) {
        val onAt = HiveQlText(rest.substring(joinAt.get)).firstKeyword("ON")
        onAt.flatMap { i =>
          val from = joinAt.get + i + 2 // past "ON"
          val end = HiveQlText(rest.substring(from))
            .firstKeyword("JOIN", "WHERE", "GROUP BY", "LIMIT")
            .map(_ + from).getOrElse(rest.length)
          var cond = rest.substring(from, end).trim
          if (cond.startsWith("(") &&
              HiveQlText(cond).matchParen(0) == cond.length - 1)
            cond = cond.substring(1, cond.length - 1)
          val pairs = cond.split("(?i)\\bAND\\b").map(_.trim).toSeq
          val pos = pairs.map { p =>
            p.split("=") match {
              case Array(l, r) =>
                matchPos(outputs, l.trim).orElse(matchPos(outputs, r.trim))
              case _ => None
            }
          }
          if (pos.forall(_.isDefined) && pos.nonEmpty)
            Some((pos.flatten, pos.flatten.map((_, 1))))
          else None
        }
      } else if (joinAt.isDefined) None // map-side join: no reduce
      else innerMapped
    }
  }

  private case class Out(expr: String, name: Option[String])

  private def parseOutput(item0: String): Out = {
    val item = item0.trim
    val asSplit = """(?is)\s+AS\s+`?(\w+)`?\s*$""".r
    asSplit.findFirstMatchIn(item) match {
      case Some(m) =>
        Out(norm(item.substring(0, m.start)), Some(m.group(1).toLowerCase))
      case None =>
        // bare trailing alias: `expr alias` where expr isn't an ident
        val parts = item.split("\\s+")
        if (parts.length > 1 && parts.last.matches("`?\\w+`?") &&
            !item.matches("(?s)[\\w.`\\s]*"))
          Out(norm(item.dropRight(parts.last.length)),
            Some(parts.last.replace("`", "").toLowerCase))
        else Out(norm(item), None)
    }
  }

  /** Output names a containing query can reference: alias, else the
    * last identifier of a plain column ref. */
  private def innerOutputNames(sel: String): Seq[Option[String]] = {
    val t = sel.trim
    if (!t.toUpperCase.startsWith("SELECT")) return Nil
    val fromAt = HiveQlText(t).firstKeyword("FROM").getOrElse(return Nil)
    HiveQlText(t.substring("SELECT".length, fromAt)).split(',')
      .map(parseOutput)
      .map(o => o.name.orElse(lastIdent(o.expr)))
  }

  private def matchPos(outputs: Seq[Out], key0: String): Option[Int] = {
    val k = norm(key0)
    val byExpr = outputs.indexWhere(_.expr == k)
    if (byExpr >= 0) return Some(byExpr)
    lastIdentOf(k).flatMap { base =>
      val i = outputs.indexWhere(o =>
        o.name.contains(base) || lastIdent(o.expr).contains(base))
      if (i >= 0) Some(i) else None
    }
  }

  private def norm(s: String): String =
    s.toLowerCase.replace("`", "").replaceAll("\\s+", "")

  private def lastIdent(normExpr: String): Option[String] =
    lastIdentOf(normExpr)

  private def lastIdentOf(k: String): Option[String] =
    if (k.matches("[\\w.]+")) Some(k.split('.').last) else None
}
