package graft

import graft.operators.{TextOps, Vectors}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style invariants over seeded random inputs (plain loops — the
  * scalatestplus-scalacheck bridge isn't in the offline cache).
  * Mirrors the reference's requirement that aggregation buffers be
  * merge-associative and sketches permutation-invariant (SURVEY §7). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private val vocab = Seq("spark", "hive", "query", "row", "column", "scan",
    "join", "merge", "sort", "hash", "table", "data", "fast", "slow")
  private def sentence(n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("triangleCount ≡ brute-force triple loop on random graphs") {
    import graft.operators.Graph
    (0 until 3).foreach { trial =>
      val n = 12 + trial * 4
      val edges = (for (a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.25) yield (s"v$a", s"v$b")).toSeq
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      val expected = nodes.map { v =>
        val nbrs = adj(v).toSeq
        v -> (for (i <- nbrs.indices; j <- (i + 1) until nbrs.size
          if adj(nbrs(i)).contains(nbrs(j))) yield 1).size.toLong
      }.toMap
      val got = Graph.triangleCount(edges.toDF("x", "y"), "x", "y")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("GraftBitmap ≡ Set semantics on random keys across all regimes") {
    import graft.functions.GraftBitmap
    // key pools chosen to hit every container path: dense low range
    // (bitmap container), sparse low (array), chunk boundaries (64k±1),
    // giant keys (array in far chunks), and the 4096 promotion edge
    val pools = Seq(
      () => rnd.nextInt(3000),                        // array container
      () => rnd.nextInt(60000),                       // promotes to bitmap
      () => 65536 * rnd.nextInt(4) + rnd.nextInt(3),  // chunk edges
      () => rnd.nextInt(3) * 1000000000 + rnd.nextInt(10))
    (0 until 4).foreach { trial =>
      val pool = pools(trial)
      val n = if (trial == 1) 9000 else 500 // force promotion in trial 1
      def randomSet(): (GraftBitmap, Set[Int]) = {
        val bm = new GraftBitmap()
        val ref = scala.collection.mutable.Set.empty[Int]
        (0 until n).foreach { _ =>
          val k = pool()
          bm.set(k); ref += k
        }
        (bm, ref.toSet)
      }
      val (a, refA) = randomSet()
      val (b, refB) = randomSet()
      assert(a.cardinality == refA.size, s"trial $trial cardinality")
      // serialize round-trip preserves everything
      val rt = GraftBitmap.valueOf(a.serialize())
      assert(rt.cardinality == refA.size, s"trial $trial round-trip")
      // and/or against an independent Set reference
      val i = GraftBitmap.valueOf(a.serialize()); i.and(b)
      assert(i.cardinality == (refA intersect refB).size,
        s"trial $trial intersect")
      val u = GraftBitmap.valueOf(a.serialize()); u.or(b)
      assert(u.cardinality == (refA union refB).size, s"trial $trial union")
      // or() must not alias the other side's containers: mutating the
      // union afterwards must leave b unchanged
      u.set(pool())
      assert(b.cardinality == refB.size, s"trial $trial aliasing")
    }
  }

  test("containmentPairs ≡ brute-force gram-set reference on random docs") {
    import graft.operators.Dedup
    val docs = (0L until 40L).map(i => (i, sentence(6 + rnd.nextInt(20))))
    val span = 3
    def grams(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(span)
        .filter(_.size == span).map(_.mkString(" ")).toSet
    val gsets = docs.map { case (i, t) => i -> grams(t) }
      .filter(_._2.nonEmpty).toMap
    val expected = (for {
      (a, ga) <- gsets.toSeq; (b, gb) <- gsets.toSeq if a != b
      inter = (ga intersect gb).size
      c = inter.toDouble / ga.size if c >= 0.5
    } yield (a, b) -> (inter.toLong, c)).toMap
    val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", spanTokens = span, threshold = 0.5,
        maxDf = 10000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == expected,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
  }

  test("bpeEncode fold ≡ reference greedy left-to-right merge on random " +
    "words and merge lists (incl. repeated-symbol runs)") {
    // reference: classic greedy single pass per merge, per word
    def refMergeOnce(toks: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toList
    }
    def refEncode(word: String, merges: Seq[(String, String)]): List[String] =
      merges.foldLeft(word.map(_.toString).toList) {
        case (t, (l, r)) => refMergeOnce(t, l, r)
      }
    val letters = "ab"
    val words = Seq.fill(120)(
      Seq.fill(1 + rnd.nextInt(10))(letters(rnd.nextInt(2))).mkString)
      .distinct
    // merge lists over the growing symbol space, biased toward runs
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "a"), ("b", "b"),
      ("ab", "bb"))
    val got = words.toDF("text")
      .select($"text", operators.TextAnalysis.bpeEncode($"text", merges)
        .as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach { w =>
      assert(got(w) == refEncode(w, merges),
        s"word $w: got ${got(w)}, want ${refEncode(w, merges)}")
    }
  }

  test("native ShingleSet ≡ composed split/filter/transform pipeline") {
    val texts = Seq.fill(60)(sentence(3 + rnd.nextInt(40))) ++
      Seq("", "a", "a b", "  Punct,--here!! and\tsome\nspace  ", "ÜBER hällo")
    val df = texts.toDF("text")
    val both = df.select(
      TextOps.shingleSet($"text", 3).as("native"),
      array_distinct(TextOps.wordNgrams(TextOps.tokens($"text"), 3))
        .as("composed"))
    val diff = both.filter(not($"native" <=> $"composed")).collect()
    assert(diff.isEmpty, s"mismatch: ${diff.take(2).mkString}")
  }

  test("minhash signatures are permutation-invariant and reflexive") {
    val sets = Seq.fill(30)(Seq.fill(5 + rnd.nextInt(30))(
      vocab(rnd.nextInt(vocab.size)) + rnd.nextInt(100)).distinct)
    val df = sets.map(s => (s, rnd.shuffle(s))).toDF("a", "b")
    val neq = df.select(
      TextOps.minhashSignature($"a", 32).as("sa"),
      TextOps.minhashSignature($"b", 32).as("sb"))
      .filter(not($"sa" <=> $"sb")).count()
    assert(neq == 0, "signature must not depend on element order")
  }

  test("minhash signature equality rate estimates jaccard") {
    // two sets with known overlap: J = |∩|/|∪| = 50/150
    val a = (0 until 100).map("tok" + _)
    val b = (50 until 150).map("tok" + _)
    val row = Seq((a, b)).toDF("a", "b")
      .select(TextOps.minhashSignature($"a", 256).as("sa"),
        TextOps.minhashSignature($"b", 256).as("sb"))
      .select(size(filter(zip_with($"sa", $"sb", (x, y) => x === y),
        b => b)).as("eq"))
      .collect().head
    val est = row.getInt(0) / 256.0
    val truth = 50.0 / 150.0
    assert(math.abs(est - truth) < 0.12, s"estimate $est vs $truth")
  }

  test("simhash: permutation-invariant; small edits stay close in hamming") {
    val base = Seq.fill(60)(vocab(rnd.nextInt(vocab.size)))
    val df = Seq((base, rnd.shuffle(base), base.updated(0, "EDITED")))
      .toDF("a", "b", "c")
      .select(
        TextOps.hamming64(TextOps.simhash64($"a"), TextOps.simhash64($"b")).as("perm"),
        TextOps.hamming64(TextOps.simhash64($"a"), TextOps.simhash64($"c")).as("edit"))
      .collect().head
    assert(df.getInt(0) == 0, "permutation must not change simhash")
    assert(df.getInt(1) <= 16, s"one-token edit moved ${df.getInt(1)} bits")
  }

  test("decimal-sum strategy is exact for 2dp doubles in any split") {
    val values = Seq.fill(2000)((rnd.nextInt(1000000)).toDouble / 100)
    val exact = values.map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    for (parts <- Seq(1, 7, 32)) {
      val got = values.toDF("v").repartition(parts)
        .select(expr("cast(sum(cast(v as decimal(18,2))) as double)"))
        .collect().head.getDouble(0)
      assert(got == exact.toDouble, s"parts=$parts: $got != $exact")
    }
  }

  test("cosine is scale-invariant and bounded") {
    for (_ <- 0 until 20) {
      val v = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      val w = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      val scaled = v.map(_ * 7.5f)
      val r = Seq((v, w, scaled)).toDF("v", "w", "s")
        .select(Vectors.cosine($"v", $"w").as("c1"),
          Vectors.cosine($"s", $"w").as("c2"))
        .collect().head
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6)
      assert(math.abs(r.getDouble(0)) <= 1.0 + 1e-12)
    }
  }

  test("native TextProfile ≡ the HOF/regexp formulas it replaced") {
    import graft.operators.TextAnalysis
    val texts = Seq.fill(60)(sentence(1 + rnd.nextInt(50))) ++ Seq(
      "", "a", "UPPER lower 123!!", "punct,,,only---", "mixed Ab1 Cd2 の漢字",
      "the der le el und is est y", "  \t\n spaced \r out  ")
    val df = texts.toDF("text")
    // original (pre-native) formulas, inline
    val toks = filter(split(lower($"text"), "[^a-z0-9]+"), t => length(t) > 0)
    val nChars = length($"text").cast("double")
    val nToks = size(toks).cast("double")
    val composed = struct(
      nChars.cast("long"),
      nToks.cast("long"),
      when(nToks > 0, aggregate(toks, lit(0L), (a, t) => a + length(t))
        .cast("double") / nToks).otherwise(0.0),
      when(nChars > 0,
        (nChars - length(regexp_replace($"text", "[\\p{Punct}]", ""))) / nChars)
        .otherwise(0.0),
      when(nChars > 0,
        (nChars - length(regexp_replace($"text", "[0-9]", ""))) / nChars)
        .otherwise(0.0),
      when(nChars > 0,
        (nChars - length(regexp_replace($"text", "[A-Z]", ""))) / nChars)
        .otherwise(0.0))
    val native = TextAnalysis.qualityMetrics($"text")
    val rows = df.select(native.as("n"), composed.as("c")).collect()
    rows.foreach { r =>
      val n = r.getStruct(0); val c = r.getStruct(1)
      assert(n.getLong(0) == c.getLong(0), s"n_chars: $n vs $c")
      assert(n.getLong(1) == c.getLong(1), s"n_tokens: $n vs $c")
      (2 to 5).foreach(i =>
        assert(math.abs(n.getDouble(i) - c.getDouble(i)) < 1e-12,
          s"field $i: $n vs $c"))
    }
    // langId agrees with the original CJK/argmax definition
    val cjk = df.select(TextAnalysis.langId($"text").as("l"),
      $"text".rlike("[\\u4e00-\\u9fff]").as("isCjk")).collect()
    cjk.foreach(r => if (r.getBoolean(1)) assert(r.getString(0) == "zh"))
  }

  test("native TokenCounts ≡ split/regexp_extract_all formulas") {
    val texts = Seq.fill(80)(sentence(1 + rnd.nextInt(30))) ++ Seq(
      "", "  ", "a-b.c,d", "x1y2z3", "!!!", "tabs\there\nand 42.5 end ",
      "emoji 😀 and 🎉🎉 pair")
    val df = texts.toDF("text")
    val diff = df.select(
      graft.operators.TextAnalysis.tokenCountWs($"text").as("nws"),
      graft.operators.TextAnalysis.tokenCountBpe($"text").as("nbpe"),
      size(filter(split($"text", "\\s+"), t => length(t) > 0)).as("cws"),
      size(regexp_extract_all($"text",
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("cbpe"))
      .filter($"nws" =!= $"cws" || $"nbpe" =!= $"cbpe").collect()
    assert(diff.isEmpty, s"mismatch: ${diff.take(3).mkString}")
  }

  test("JpegDims never throws on arbitrary byte soup") {
    val payloads = Seq.fill(100) {
      val n = rnd.nextInt(64)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      // half the time, start with a JPEG SOI to exercise the walker
      if (rnd.nextBoolean() && n >= 2) { b(0) = 0xff.toByte; b(1) = 0xd8.toByte }
      b
    }
    val out = payloads.toDF("b")
      .select(graft.operators.Multimodal.jpegDims($"b")).collect()
    assert(out.length == 100) // no exceptions; dims null or plausible
  }

  test("mask preserves length and masks exactly the three char classes") {
    for (_ <- 0 until 50) {
      val s = Random.alphanumeric.take(1 + rnd.nextInt(30)).mkString +
        "-,.!? ".take(rnd.nextInt(6))
      val m = spark.sql(s"SELECT mask('${s.replace("'", "")}')")
        .collect().head.getString(0)
      val in = s.replace("'", "")
      assert(m.length == in.length)
      in.zip(m).foreach { case (orig, masked) =>
        if (orig.isUpper) assert(masked == 'X')
        else if (orig.isLower) assert(masked == 'x')
        else if (orig.isDigit) assert(masked == 'n')
        else assert(masked == orig)
      }
    }
  }

  test("randomProject: md5-sign contract, linearity, JL norm bound") {
    // hand-verify the sign derivation for a few (j, i) cells
    val md = java.security.MessageDigest.getInstance("MD5")
    def refSign(j: Int, i: Int): Double = {
      val hex = md.digest(s"7:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("02468ace".contains(hex.charAt(0))) 1.0 else -1.0
    }
    // a one-hot input reads the sign matrix back out of the operator
    val eye = (0 until 8).map(i =>
      (i, (0 until 8).map(d => if (d == i) 1.0f else 0.0f).toArray))
    val got = eye.toDF("i", "v")
      .select(col("i"), Vectors.randomProject(col("v"), 8, 4, seed = 7L)
        .as("p"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val scale = 1.0 / math.sqrt(4.0)
    for (i <- 0 until 8; j <- 0 until 4)
      assert(got(i)(j) == refSign(j, i) * scale, s"sign mismatch at ($j,$i)")

    // linearity + approximate norm preservation on random vectors
    val rnd = new Random(11)
    val a = Array.fill(64)(rnd.nextGaussian().toFloat)
    val b = Array.fill(64)(rnd.nextGaussian().toFloat)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val out = Seq(("a", a), ("b", b), ("ab", ab)).toDF("k", "v")
      .select(col("k"), Vectors.randomProject(col("v"), 64, 16).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val sumAB = out("a").zip(out("b")).map { case (x, y) => x + y }
    sumAB.zip(out("ab")).foreach { case (x, y) =>
      // tolerance is set by the float32 input addition (a+b rounds to
      // float before projecting), not the double fold
      assert(math.abs(x - y) < 1e-6, "projection is linear") }
    // E[||p||²] = ||v||² under the JL scaling; 16 dims is loose, so
    // assert the ratio only within a wide band
    def n2(xs: Seq[Double]) = xs.map(x => x * x).sum
    val ratio = n2(out("a")) / a.map(x => x.toDouble * x).sum
    assert(ratio > 0.3 && ratio < 3.0, s"norm ratio $ratio")
  }

  test("randomProject is partition-invariant (fold order is array order)") {
    val rnd = new Random(5)
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), Vectors.randomProject(col("v"), 32, 8).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(run(df.coalesce(1)) == run(df.repartition(16)))
  }

  /** GraftSession.codeMask as it stood before HiveQlText replaced it:
    * the reference for the lexer's mask on text without block comments. */
  private def referenceCodeMask(s: String): Array[Boolean] = {
    val m = new Array[Boolean](s.length)
    var i = 0
    var quote: Char = 0
    var comment = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (comment) { if (c == '\n') { comment = false; m(i) = true } }
      else if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < s.length) i += 1
        else if (c == quote) {
          if (quote != '`' && i + 1 < s.length && s.charAt(i + 1) == quote)
            i += 1 // '' / "" = escaped quote, stay in string
          else quote = 0
        }
      } else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-')
        comment = true
      else m(i) = true
      i += 1
    }
    m
  }

  test("HiveQlText: reference mask, paren matching, statement round-trip") {
    val alphabet = "'\"`\\-*/()[],;\na "
    (0 until 3000).foreach { trial =>
      val s = Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      val t = HiveQlText(s)
      val shown = s.replace("\n", "\\n")
      val ref = referenceCodeMask(s).toSeq
      if (!s.contains("/*"))
        assert(s.indices.map(t.code) == ref, s"trial $trial: mask of $shown")
      // without block comments (the qtest script rules) on every input
      val hive12 = HiveQlText(s, blockComments = false)
      assert(s.indices.map(hive12.code) == ref,
        s"trial $trial: script mask of $shown")
      assert(hive12.statements.mkString(";") == s,
        s"trial $trial: script split of $shown")
      // running paren/bracket count over code: a '(' closes at the first
      // code ')' after which the count is back to where it was before it
      var before = 0
      s.indices.foreach { i =>
        val c = s.charAt(i)
        if (t.code(i) && c == '(') {
          var count = before
          val expect = (i until s.length).find { k =>
            if (t.code(k) && "([".contains(s.charAt(k))) count += 1
            else if (t.code(k) && ")]".contains(s.charAt(k))) count -= 1
            t.code(k) && s.charAt(k) == ')' && count == before
          }.getOrElse(s.length - 1)
          assert(t.matchParen(i) == expect, s"trial $trial: ( at $i of $shown")
        }
        if (t.code(i) && "([".contains(c)) before += 1
        else if (t.code(i) && ")]".contains(c)) before -= 1
      }
      assert(t.statements.mkString(";") == s, s"trial $trial: $shown")
    }
  }

  test("TextOps.upTo ≡ Scala lo to hi on random int and long bounds") {
    // mismatches of `range` against `lo to hi` (empty for a NULL hi)
    def mismatches[T](pairs: Seq[(T, Option[T])], range: (Column, Column) => Column)(
        implicit num: Integral[T], enc: org.apache.spark.sql.Encoder[(T, Option[T])]): Seq[String] = {
      val got = pairs.toDS().select(range(col("_1"), col("_2"))).collect()
        .map(r => Option(r.getSeq[T](0)).map(_.toSeq))
      pairs.zip(got).collect {
        case ((lo, hi), g) if !g.contains(hi.fold(Seq.empty[T])(
            h => scala.collection.immutable.NumericRange.inclusive(lo, h, num.one))) =>
          s"upTo($lo, $hi) = $g"
      }
    }
    // short spans (ascending, single point, descending), a NULL hi, and
    // descending pairs far enough apart that hi - lo overflows
    def cases[T](draw: () => T, wide: Seq[(T, T)])(implicit num: Integral[T]) = {
      val near = Seq.fill(200) {
        val lo = draw()
        val hi = num.plus(lo, num.fromInt(rnd.nextInt(21) - 10))
        (lo, if (rnd.nextInt(8) == 0) None else Some(hi))
      }.filter { case (lo, hi) => // drop spans that wrapped around
        hi.forall(h => (BigInt(num.toLong(h)) - num.toLong(lo)).abs <= 10)
      }
      (near, wide.map { case (lo, hi) => (lo, Option(hi)) })
    }
    val (nearInts, wideInts) = cases[Int](() => rnd.nextInt(),
      Seq((Int.MaxValue, Int.MinValue), (1 << 30, -(1 << 30)),
        (Int.MaxValue - 2, Int.MaxValue)))
    val (nearLongs, wideLongs) = cases[Long](() => rnd.nextLong(),
      Seq((Long.MaxValue, Long.MinValue), (1L << 62, -(1L << 62)),
        (Long.MinValue, Long.MinValue + 2)))
    assert(mismatches(nearInts ++ wideInts, TextOps.upTo).isEmpty)
    assert(mismatches(nearLongs ++ wideLongs, TextOps.upTo).isEmpty)
    // a bare sequence steps down for hi < lo and is NULL for a NULL hi
    assert(mismatches(nearInts, sequence(_, _)).nonEmpty)
    assert(mismatches(nearLongs, sequence(_, _)).nonEmpty)
  }
}

/** Randomized equivalence of the custom join operators against
  * brute-force reference computations (small domains force heavy key
  * collisions, ties, and empty-state keys). */
class JoinPropertySpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{AsOfJoin, RangeJoin}

  private val rnd = new scala.util.Random(4242)

  test("ACID insert identities ≡ row_number over the bucket, no shuffle") {
    import org.apache.spark.sql.expressions.Window
    (0 until 5).foreach { trial =>
      val n = rnd.nextInt(400)
      val parts = 1 + rnd.nextInt(6)
      // hash-partitioned on a small modulus: uneven buckets, some empty
      val input = spark.range(n)
        .repartition(parts, col("id") % (1 + rnd.nextInt(5)))
        .withColumn("seq", monotonically_increasing_id())
      val events = Acid.asInsertEvents(input, 1L)
      assert(!events.queryExecution.executedPlan.toString
        .contains("Window"), "identity assignment planned a window")
      val got = events
        .withColumn("ref", row_number().over(Window.partitionBy("bucket")
          .orderBy(col("row.seq"))).cast("long") - 1)
        .select("bucket", "rowId", "ref").as[(Int, Long, Long)].collect()
      assert(got.length == n, s"trial $trial")
      assert(got.forall { case (_, id, ref) => id == ref },
        s"trial $trial: ${got.filter(r => r._2 != r._3).take(5).toSeq}")
      assert(got.map(r => (r._1, r._2)).distinct.length == n)
    }
  }

  test("AsOfJoin.backward ≡ per-row argmax over rightTs <= leftTs") {
    val facts = Seq.tabulate(300)(i =>
      (i.toLong, "k" + rnd.nextInt(8), rnd.nextInt(50).toLong))
      .toDF("id", "k", "ts")
    // unique (k, ts) per state so the expected value is well-defined
    val stateRows = rnd.shuffle(
      (for (k <- 0 until 8; ts <- 0 until 50) yield ("k" + k, ts.toLong))
        .toSeq).take(120)
      .map { case (k, ts) => (k, ts, s"$k@$ts") }
    val states = stateRows.toDF("k", "ts", "v")

    val rows = AsOfJoin.backward(facts, states, Seq("k"), "ts", "ts", Seq("v"))
      .select("id", "v").collect()
    assert(rows.length == 300, s"left-outer must emit exactly one row per fact, got ${rows.length}")
    val got = rows
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString)).toMap

    val byKey = stateRows.groupBy(_._1)
    val factsLocal = facts.select("id", "k", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    factsLocal.foreach { case (id, k, ts) =>
      val expect = byKey.getOrElse(k, Seq.empty)
        .filter(_._2 <= ts).sortBy(_._2).lastOption.map(_._3)
      assert(got(id) == expect, s"fact $id ($k, $ts): ${got(id)} vs $expect")
    }
  }

  test("RangeJoin.pointInRange ≡ brute-force interval filter") {
    val factRows = Seq.tabulate(200)(i => (i.toLong, rnd.nextInt(1000).toLong))
    val facts = factRows.toDF("id", "p")
    val rangeRows = Seq.tabulate(40) { i =>
      val s = rnd.nextInt(1000).toLong
      (i.toLong, s, s + rnd.nextInt(120).toLong) // may be empty (e == s)
    }
    val ranges = rangeRows.toDF("rid", "s", "e")
    val expect = (for {
      (id, p) <- factRows
      (rid, s, e) <- rangeRows
      if p >= s && p < e
    } yield (id, rid)).sorted
    for (width <- Seq(7L, 64L, 1024L)) {
      val got = RangeJoin.pointInRange(facts, "p", ranges, "s", "e", width)
        .select("id", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expect, s"width=$width: ${got.size} vs ${expect.size} pairs")
    }
  }

  test("zBucketsFor ≡ brute-force bucket enumeration on random rects") {
    import graft.operators.Layout
    val bits = 4 // 16×16 grid, z in [0, 256)
    def zOf(x: Long, y: Long): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    for (trial <- 1 to 100) {
      val bucketBits = 1 + rnd.nextInt(2 * bits) // 1..8
      def range(): (Long, Long) = {
        val a = rnd.nextInt(16).toLong; val b = rnd.nextInt(16).toLong
        (math.min(a, b), math.max(a, b))
      }
      val (xr, yr) = (range(), range())
      val expect = (for {
        x <- xr._1 to xr._2
        y <- yr._1 to yr._2
      } yield zOf(x, y) >> (2 * bits - bucketBits)).distinct.sorted
      val got = Layout.zBucketsFor(Seq(xr, yr), bits, bucketBits)
      assert(got == expect,
        s"trial $trial bb=$bucketBits xr=$xr yr=$yr: $got vs $expect")
    }
  }
}
