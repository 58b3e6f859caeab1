package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** User-facing session bootstrap — the engine's `EngineSession` (SURVEY
  * §7 M1): one call gives a SparkSession with the Hive-gap functions, the
  * graft optimizer rule, UTC session time, AQE (incl. skew join), and
  * sane local-mode shuffle parallelism. A reference (Hive 1.2) user's
  * entry point: `val spark = GraftSession.local(); spark.sql(...)`.
  */
object GraftSession {

  /** Entries in Spark's generated-class cache (see `builder`). */
  val CodegenCacheEntries = 4096

  /** Builder preloaded with the graft extensions + recommended confs;
    * callers add master/app/warehouse and build. Every session the
    * engine builds (Bench, Verify, the specs, the drives) starts here.
    *
    * `spark.sql.codegen.cache.maxEntries` sizes the JVM-wide LRU cache
    * of compiled generated classes. It is a static conf read once, when
    * the first session generates code, so whichever session does that
    * fixes it for the JVM. Spark's default of 100 entries is smaller than
    * the engine's working set: the five `llm_ops_sf01` queries compile
    * about 150 classes per pass, the 46 `Bench.headline` queries 854 at
    * sf0.01, and the whole 235-query registry 2788 at sf0.001. At 100,
    * every run evicted and recompiled its classes (Janino plus the
    * class-loader lookups it triggers were about a quarter of a warm
    * profile). 4096 keeps the whole registry resident with headroom;
    * that costs about 46 MB more metaspace (221 MB against 175 MB at
    * the default). A caller's own `.config` of the key still wins.
    *
    * The cache is keyed on the generated source text, and by default the
    * class name carries the whole-stage codegen stage id. Under AQE the
    * ids follow the order in which query stages finish, so the same
    * pipeline got another id, and was compiled again, on some runs
    * (q153, q228). `useIdInClassName=false` names every pipeline class
    * `GeneratedIterator`; the id stays in the generated code's comment.
    *
    * `spark.buffer.pageSize` is the Tungsten memory page. Spark derives
    * it from the heap: 8 MiB in a 2 GB JVM with 4 cores, 64 MiB in an
    * 8 GB one. Every `UnsafeHashedRelation` takes at least one page,
    * however few rows it holds, and a broadcast keeps its page until the
    * ContextCleaner runs after a GC. Each ACID read with deltas builds
    * one such relation (`Acid.resolve` broadcasts the identities its
    * deltas name), so at the derived size the pages of many small
    * broadcasts pile up: on `perfbench` `hiveql_dml` (`local[4]`, 2 GB
    * heap) the anti join alone raised `peak_rss_mb` by about 13%. With
    * 1 MiB pages it fell instead, on 10 of 10 run pairs (median 1429 →
    * 1287 MB), and on `llm_ops_sf01` too (8 of 8 pairs, 1579 → 1327 MB)
    * with `ops_per_s` no lower. A task addresses at most 8192 pages, so
    * 1 MiB caps one task's Tungsten memory at 8 GiB. Like the codegen
    * cache it is read once, when the SparkContext starts. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.buffer.pageSize", "1m")

  /** Local session sized to the machine (shuffle partitions = cores, not
    * the 200 default that fragments small-cluster runs). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Functions.register(s) // idempotent; covers a reused pre-built session
    s
  }

  /** Session + the driver testdata registered as tables — the quickest
    * path to `spark.sql("SELECT ... FROM lineitem")`. */
  def localWithTables(dir: String): SparkSession = {
    val s = local()
    Tables.register(s, dir)
    s
  }

  /** Paged result fetch over a query — the HiveServer2 result-paging
    * lifecycle (reference: service/cli/CLIService.java fetchResults,
    * FetchOrientation.java FETCH_NEXT/FETCH_FIRST;
    * jdbc/HiveStatement.java:421): rows stream to the driver one
    * partition at a time via toLocalIterator, never a full collect. */
  final class ResultPager private[GraftSession] (df: DataFrame, pageSize: Int) {
    require(pageSize > 0, "pageSize must be positive")
    private var it = df.toLocalIterator()
    private var pos = 0L

    /** FETCH_NEXT: up to pageSize rows; empty when exhausted. */
    def fetchNext(): Seq[Row] = {
      val buf = Vector.newBuilder[Row]
      var n = 0
      while (n < pageSize && it.hasNext) { buf += it.next(); n += 1 }
      pos += n
      buf.result()
    }

    /** FETCH_FIRST: rewind to the start (re-executes, as HS2 does when
      * the result isn't cached) and return the first page. */
    def fetchFirst(): Seq[Row] = {
      it = df.toLocalIterator()
      pos = 0L
      fetchNext()
    }

    def position: Long = pos
    def hasMore: Boolean = it.hasNext
  }

  def pager(df: DataFrame, pageSize: Int = 1000): ResultPager =
    new ResultPager(df, pageSize)

  // -- HiveQL statement front door -----------------------------------
  // The statement forms Hive 1.2 accepts but Spark's parser does not
  // (grammar: ql/parse/HiveParser.g loadStatement, exportStatement,
  // importStatement, updateStatement, deleteStatement, createMacro) are
  // recognized here and routed to their graft implementations; anything
  // else goes straight to spark.sql. Statement-level regex routing, same
  // approach as Macros.sql: simple identifiers and single-quoted paths,
  // the shapes Hive's own grammar produces.

  private val LoadRe =
    """(?is)\s*LOAD\s+DATA\s+(LOCAL\s+)?INPATH\s+'([^']+)'\s+(OVERWRITE\s+)?INTO\s+TABLE\s+([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?\s*""".r
  private val ExportRe =
    """(?is)\s*EXPORT\s+TABLE\s+([\w.]+)\s+TO\s+'([^']+)'\s*""".r
  private val ImportRe =
    """(?is)\s*IMPORT\s+TABLE\s+([\w.]+)\s+FROM\s+'([^']+)'\s*""".r
  private val ExchangePartRe =
    ("""(?is)\s*(?:--[^\n]*\n\s*)*ALTER\s+TABLE\s+([\w.]+)\s+""" +
      """EXCHANGE\s+PARTITION\s*""" +
      """\(([^)]*)\)\s+WITH\s+TABLE\s+([\w.]+)\s*""").r
  private val UpdateRe =
    """(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.+)""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+))?\s*""".r
  private val MacroRe = """(?is)\s*(?:CREATE|DROP)\s+TEMPORARY\s+MACRO\b.*""".r
  private val CreateHiveFnRe =
    """(?is)\s*CREATE\s+(?:TEMPORARY\s+)?FUNCTION\s+`?([\w.]+)`?\s+AS\s+'([^']+)'\s*""".r
  private val InsertIntoRe =
    """(?is)\s*INSERT\s+INTO\s+(?:TABLE\s+)?([\w.]+)\s+(SELECT\b.+|VALUES\b.+|WITH\b.+|TABLE\b.+)""".r
  private val AlterCompactRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s+COMPACT\s+'(major|minor)'\s*""".r
  private val MergeRe =
    """(?is)\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.+)""".r
  private val MergeUpdRe =
    """(?is)\s*MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+)""".r
  private val MergeDelRe =
    """(?is)\s*MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*""".r
  private val MergeInsRe =
    """(?is)\s*NOT\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+INSERT\s+VALUES\s*\((.+)\)\s*""".r

  /** Split the MERGE tail into (ON condition, WHEN-clause bodies). Only
    * WHEN followed by MATCHED / NOT MATCHED is a clause boundary — an
    * unparenthesized CASE WHEN inside the ON condition or a clause body
    * must not split the statement. */
  private def splitOnWhen(s: String): (String, Seq[String]) = {
    val cuts = HiveQlText(s).keywords("WHEN").filter { i =>
      val rest = s.substring(i + 4).dropWhile(_.isWhitespace)
      rest.toUpperCase.startsWith("MATCHED") ||
        rest.toUpperCase.matches("(?s)NOT\\s+MATCHED\\b.*")
    }
    if (cuts.isEmpty) (s.trim, Nil)
    else {
      val bounds = cuts :+ s.length
      val clauses = bounds.sliding(2).map {
        case Seq(a, b) => s.substring(a + 4, b).trim
      }.toSeq
      (s.substring(0, cuts.head).trim, clauses)
    }
  }

  /** Split the text after SET into (assignments, optional WHERE clause):
    * the WHERE keyword counts only at top level, in code. */
  private def splitSetWhere(s: String): (String, Option[String]) =
    HiveQlText(s).firstKeyword("where") match {
      case None      => (s.trim, None)
      case Some(cut) =>
        (s.substring(0, cut).trim, Some(s.substring(cut + 5).trim))
    }

  /** Split `a = e1, b = e2` on top-level commas; each assignment splits
    * on its FIRST '=' (column names are simple identifiers, so an '='
    * inside the expression never comes first). */
  private def parseSetClause(s: String): Map[String, String] = {
    val pairs = HiveQlText(s).split(',').map { a =>
      require(a.contains("="), s"bad SET assignment: $a")
      val Array(c, e) = a.split("=", 2).map(_.trim)
      require(c.matches("""[\w.]+"""), s"bad SET column: $c")
      c -> e
    }
    // Hive rejects assigning the same column twice; .toMap would silently
    // keep the last one
    val dup = pairs.groupBy(_._1.toLowerCase).collect {
      case (c, as) if as.size > 1 => c
    }
    require(dup.isEmpty, s"duplicate SET column(s): ${dup.mkString(", ")}")
    pairs.toMap
  }

  // -- HiveQL window-spec synonyms -------------------------------------
  // Hive's grammar accepts DISTRIBUTE BY / SORT BY / CLUSTER BY inside a
  // window specification (ref: ql/parse/HiveParser.g window_specification
  // → partitioningSpec, IdentifiersParser.g partitioningSpec) as synonyms
  // for PARTITION BY / ORDER BY; Spark's parser only takes the standard
  // forms. Rewrite the synonyms INSIDE `over (…)` and `WINDOW w AS (…)`
  // spans only — at statement level DISTRIBUTE/SORT/CLUSTER BY are real
  // operators Spark already supports and must not be touched.

  private val WindowSynonyms = Seq(
    ("""(?i)\bdistribute\s+by\b""".r, "partition by"),
    ("""(?i)\bcluster\s+by\b""".r, "partition by"),
    ("""(?i)\bsort\s+by\b""".r, "order by"))

  /** Hive's struct() names its fields col1..colN positionally (ref
    * udf/generic/GenericUDFStruct.java); Spark's parser treats `struct(`
    * as a grammar token building CreateStruct with source-derived names,
    * so the front door rewrites the call to the registry-resolved
    * `hive_struct` (HiveCompat). percentile_approx likewise rewrites to
    * the Hive-algorithm aggregate (HivePercentileApprox) with Hive's
    * Ben-Haim histogram semantics (goldens pin its exact interpolation)
    * without shadowing Spark's native sketch for DataFrame callers. Only
    * a call in code is rewritten: the next non-space character must be
    * '(', so columns or aliases of those names, `named_struct` and the
    * `struct<...>` type syntax pass through. */
  private[graft] def hiveStructCompat(sql: String): String = {
    val t = HiveQlText(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      Seq("struct", "percentile_approx").find { w =>
        val j = t.skipSpace(i + w.length)
        t.isWord(i, w) && j < sql.length && sql.charAt(j) == '('
      } match {
        case Some(w) => sb.append("hive_").append(w); i += w.length
        case None => sb += sql.charAt(i); i += 1
      }
    }
    sb.toString
  }

  private[graft] def hiveWindowCompat(sql0: String): String = {
    val sql = inlineWindowInheritance(sql0)
    // rewrite spans right-to-left so indices stay valid
    val sb = new StringBuilder(sql)
    HiveQlText(sql).windowSpans.sortBy(-_._2).foreach { case (_, open, close) =>
      var span = sb.substring(open, close + 1)
      WindowSynonyms.foreach { case (re, repl) =>
        span = re.replaceAllIn(span, repl) }
      sb.replace(open, close + 1, fillDefaultWindowOrder(span))
    }
    sb.toString
  }

  /** Hive 1.2 makes every window spec effective by filling defaults
    * (ref ql/parse/WindowingSpec.java validateAndMakeEffective: rule 2
    * partitions an order-less, partition-less spec on a constant; rule 5
    * "If there is no Order, then add the Partition expressions as the
    * Order") — so `rank() over (partition by p)` and
    * `row_number() over ()` are legal HiveQL. Spark requires an explicit
    * ORDER BY for ordered window functions, so the front door fills in
    * Hive's default. Results are unchanged for specs Spark already
    * accepts: ordering by the partition keys makes every row a peer, so
    * the default RANGE frame still spans the whole partition. A spec
    * whose body starts with a window-name reference is left alone (it
    * inherits its source's ordering). */
  private def fillDefaultWindowOrder(span: String): String = {
    val body = span.substring(1, span.length - 1)
    val t = HiveQlText(body)
    if (t.firstKeyword("order").isDefined) return span
    val frameAt = t.firstKeyword("rows", "range").getOrElse(body.length)
    val partAt = t.firstKeyword("partition").getOrElse(-1)
    if (partAt >= 0) {
      val by = t.firstKeyword("by").getOrElse(-1)
      if (by < partAt) return span // malformed; leave for Spark's parser
      val exprs = body.substring(by + 2, frameAt).trim
      if (exprs.isEmpty) return span
      val frame = body.substring(frameAt).trim
      "(" + body.substring(0, frameAt).trim + " order by " + exprs +
        (if (frame.nonEmpty) " " + frame else "") + ")"
    } else if (body.substring(0, frameAt).trim.isEmpty) {
      // empty spec (or frame-only): Hive's constant partition + order
      "( order by 1 " + body + ")"
    } else span // window-name base reference — inherits ordering
  }

  private val SpecClauseWords =
    Set("partition", "distribute", "cluster", "order", "sort", "rows",
      "range", "between", "by")

  /** Hive window inheritance: a window spec may name another window as
    * its base and override individual clauses — `WINDOW w1 AS (...),
    * w2 AS (w1 ROWS BETWEEN ...)` or `OVER (w1)` (ref ql/parse/
    * WindowingSpec.java fillInWindowSpec: partition, order, and frame
    * each inherit from the source when the referencing spec omits
    * them). Spark's parser has no window-name base, so the front door
    * inlines: each spec whose body starts with a defined window's name
    * is replaced by the source spec merged with the local overriding
    * clauses, iterating until no references remain (chains resolve one
    * hop per pass; a cycle stops at the guard and falls through to
    * Spark's error). */
  /** `WINDOW w2 AS w3` — a bare-name alias definition without parens
    * (legal HiveQL, windowing.q test 34) — becomes `WINDOW w2 AS (w3)`
    * so the inheritance inliner sees it as a reference-only spec. */
  private def parenthesizeWindowAliases(sql: String): String = {
    val t = HiveQlText(sql)
    val sb = new StringBuilder(sql)
    // right-to-left so earlier offsets stay valid
    val edits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < sql.length) {
      if (t.isWord(i, "window")) {
        var j = i + 6
        var more = true
        while (more) {
          more = false
          val nameStart = t.skipSpace(j)
          j = t.identEnd(nameStart)
          if (j > nameStart) {
            j = t.skipSpace(j)
            if (t.isWord(j, "as")) {
              val after = t.skipSpace(j + 2)
              if (after < sql.length && sql.charAt(after) == '(') {
                val k = t.skipSpace(t.matchParen(after) + 1)
                if (k < sql.length && sql.charAt(k) == ',') { j = k + 1; more = true }
              } else {
                // bare-name alias: wrap it
                val e = t.identEnd(after)
                if (e > after) {
                  edits += ((after, e))
                  val k = t.skipSpace(e)
                  if (k < sql.length && sql.charAt(k) == ',') { j = k + 1; more = true }
                }
              }
            }
          }
        }
        i = j max (i + 6)
      } else i += 1
    }
    edits.sortBy(-_._1).foreach { case (a, e) =>
      sb.insert(e, ')'); sb.insert(a, '(') }
    sb.toString
  }

  private def inlineWindowInheritance(sql0raw: String): String = {
    var sql = parenthesizeWindowAliases(sql0raw)
    var guard = 0
    var changed = true
    while (changed && guard < 16) {
      changed = false
      guard += 1
      val defs = HiveQlText(sql).windowSpans
      // Window names are scoped per query block; this front door sees the
      // whole statement. Only inline names defined exactly once — a name
      // defined in two subquery scopes is left for Spark to resolve or
      // reject rather than silently cross-wiring the scopes.
      val nameCounts = defs.collect { case (Some(n), _, _) => n.toLowerCase }
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val byName = defs.collect {
        case (Some(n), o, c) if nameCounts(n.toLowerCase) == 1 =>
          n.toLowerCase -> sql.substring(o + 1, c) }.toMap
      if (byName.isEmpty) return sql
      // A spec body that itself starts with a window-name reference is
      // not yet resolved; merging against it would drop the transitive
      // clauses (w2 AS (w1 …) with w1 AS (w0 …) must wait for w1).
      def unresolved(b: String): Boolean = {
        val r = b.trim.takeWhile(ch => ch.isLetterOrDigit || ch == '_')
        r.nonEmpty && !SpecClauseWords.contains(r.toLowerCase) &&
          byName.contains(r.toLowerCase)
      }
      // rightmost first so earlier offsets stay valid after the splice
      defs.sortBy(-_._2).foreach { case (_, o, c) =>
        if (!changed) {
          val body = sql.substring(o + 1, c).trim
          val ref = body.takeWhile(ch => ch.isLetterOrDigit || ch == '_')
          if (ref.nonEmpty && !SpecClauseWords.contains(ref.toLowerCase) &&
              byName.contains(ref.toLowerCase) &&
              !unresolved(byName(ref.toLowerCase)) &&
              !body.equalsIgnoreCase(byName(ref.toLowerCase).trim)) {
            val rest = body.substring(ref.length).trim
            val merged = mergeWindowSpecs(byName(ref.toLowerCase), rest)
            sql = sql.substring(0, o + 1) + merged + sql.substring(c)
            changed = true
          }
        }
      }
    }
    sql
  }

  /** Merge a source window spec with a referencing spec's local clauses
    * (Hive fillInWindowSpec): the local partition/order/frame win; each
    * missing clause inherits from the source. */
  private def mergeWindowSpecs(src: String, local: String): String = {
    def clauses(s: String): (String, String, String) = {
      val t = HiveQlText(s)
      val partAt = t.firstKeyword("partition", "distribute", "cluster")
      val ordAt = t.firstKeyword("order", "sort")
      val frmAt = t.firstKeyword("rows", "range")
      val n = s.length
      val part = partAt.map(p =>
        s.substring(p, ordAt.orElse(frmAt).getOrElse(n)).trim).getOrElse("")
      val ord = ordAt.map(p => s.substring(p, frmAt.getOrElse(n)).trim)
        .getOrElse("")
      val frm = frmAt.map(p => s.substring(p).trim).getOrElse("")
      (part, ord, frm)
    }
    val (sp, so, sf) = clauses(src)
    val (lp, lo, lf) = clauses(local)
    Seq(if (lp.nonEmpty) lp else sp,
        if (lo.nonEmpty) lo else so,
        if (lf.nonEmpty) lf else sf)
      .filter(_.nonEmpty).mkString(" ")
  }

  /** Hive 1.2 allows a CTE to reference another CTE defined LATER in
    * the same WITH clause (ref ql/parse/SemanticAnalyzer.java
    * processCTE resolves the full name→query map before any expansion;
    * cbo_views.q: `with q1 as (select … from q2 …), q2 as (…)` runs).
    * Spark requires definition-before-use, so the front door reorders a
    * leading top-level WITH list into dependency order. Already-ordered
    * lists and cycles pass through untouched (a cycle is illegal in
    * both engines — Spark's resolver reports it). */
  private[graft] def hiveCteForwardRefs(sql: String): String = {
    val t = HiveQlText(sql)
    val i = t.skipSpace(0)
    if (!t.isWord(i, "with")) return sql
    // parse the top-level definition list: name AS ( … ) [, …]*
    var j = i + 4
    // (name, start, close paren) of each definition
    val defs = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var more = true
    var mainAt = -1
    while (more) {
      more = false
      val nameStart = t.skipSpace(j)
      j = t.identEnd(nameStart)
      val name = sql.substring(nameStart, j)
      j = t.skipSpace(j)
      if (name.nonEmpty && j + 2 <= sql.length &&
          sql.substring(j, j + 2).equalsIgnoreCase("as")) {
        val open = t.skipSpace(j + 2)
        if (open < sql.length && sql.charAt(open) == '(') {
          val close = t.matchParen(open)
          defs += ((name, nameStart, close))
          val k = t.skipSpace(close + 1)
          if (k < sql.length && sql.charAt(k) == ',') { j = k + 1; more = true }
          else { j = k; mainAt = k }
        } else return sql // malformed; leave for Spark's parser
      } else return sql
    }
    if (defs.length < 2 || mainAt < 0) return sql
    val names = defs.map(_._1.toLowerCase)
    val deps = defs.map { case (n, start, close) =>
      names.filter(r => (start + n.length to close).exists(t.isWord(_, r)))
        .toSet
    }
    val idx = names.zipWithIndex.toMap
    val forward = deps.zipWithIndex.exists { case (ds, k) =>
      ds.exists(d => idx(d) > k) }
    if (!forward) return sql
    // stable Kahn topo sort: emit the first not-yet-emitted definition
    // whose dependencies are all emitted
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val done = scala.collection.mutable.Set.empty[Int]
    var progress = true
    while (progress && emitted.length < defs.length) {
      progress = false
      var k = 0
      while (k < defs.length && !progress) {
        if (!done(k) &&
            deps(k).forall(d => done(idx(d)) || idx(d) == k)) {
          emitted += k; done += k; progress = true
        }
        k += 1
      }
    }
    if (emitted.length < defs.length) return sql // cycle — Spark reports
    sql.substring(0, i) + "with " +
      emitted.map { k => val (_, start, close) = defs(k)
        sql.substring(start, close + 1) }.mkString(", ") + " " +
      sql.substring(mainAt)
  }

  /** Hive 1.2 dedups duplicate entries in a GROUPING SETS list
    * (GROUPING SETS ((a), (a)) groups once — ref ql/parse/
    * SemanticAnalyzer.java grouping-set bitmask keyed by set id), while
    * Spark follows the SQL standard and emits duplicate groups. The
    * front door applies Hive's semantics: literal-duplicate sets are
    * dropped (whitespace-insensitively), first occurrence wins. */
  private[graft] def hiveGroupingSetsCompat(sql: String): String = {
    val re = """(?is)\bGROUPING\s+SETS\s*\(""".r
    val t = HiveQlText(sql)
    val spans = re.findAllMatchIn(sql).map(m => m.end - 1).filter(t.code).toSeq
    if (spans.isEmpty) return sql
    val sb = new StringBuilder(sql)
    spans.sortBy(-_.intValue).foreach { open =>
      val close = t.matchParen(open)
      val body = sql.substring(open + 1, close)
      val entries = HiveQlText(body).split(',')
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
      entries.foreach { e =>
        val k = e.replaceAll("\\s+", "").toLowerCase
        if (!seen.contains(k)) seen(k) = e
      }
      if (seen.size != entries.size)
        sb.replace(open + 1, close, seen.values.mkString(", "))
    }
    sb.toString
  }

  /** Hive 1.2's GROUPING__ID virtual column uses the PRE-HIVE-12833
    * encoding (ref ql/udf/generic/GenericUDFGrouping / SemanticAnalyzer
    * grouping-set id): bit j (LSB = FIRST grouping column) is 1 when the
    * column IS part of the grouping set. Spark's grouping_id() is the
    * SQL-standard complement in reversed bit order (MSB = first column,
    * 1 = aggregated away). Pinned against groupby_cube1.q golden:
    * (key,NULL)→1, (NULL,val)→2, full→3, total→0. The rewrite replaces
    * the token with an explicit bit-twiddle over grouping_id(), sized by
    * the statement's GROUP BY list; applied only when the statement has
    * exactly ONE group-by clause (nested different-arity group-bys would
    * need per-scope analysis). */
  private[graft] def hiveGroupingIdCompat(sql: String): String = {
    if ("""(?i)grouping__id""".r.findFirstIn(sql).isEmpty) sql
    else groupingIdScope(sql)
  }

  private val AvgDecRe = """(?i)\bavg\s*\(\s*`?([\w.]+)`?\s*\)""".r

  /** Hive 1.2 `avg()` over a decimal whose +4-digit widening would
    * overflow 38 total digits keeps the INTEGRAL part and shrinks the
    * extra scale (ref ql/udf/generic/GenericUDAFAverage.java:222-228:
    * intPart = p - s preserved, scale = min(s + 4, 38 - intPart));
    * Spark's Average resolves
    * scale-first (adjustPrecisionScale keeps ≥6 fractional digits by
    * shrinking the integral range), so e.g. avg(decimal(38,18))
    * types decimal(38,22)-then-truncated differently. Rewrite
    * `avg(col)` to a cast with Hive's derived type when the argument
    * resolves to such a wide decimal column. Windowed avg keeps
    * Spark typing (Hive's PTF path types differently).
    *
    * SCOPE (intentionally narrow, fail-safe): only the literal form
    * `avg(bareColumn)` / `avg(alias.column)` is matched — a computed
    * argument (`avg(t.col * 2)`), a nested call, or a column whose name
    * resolves to DIFFERENT decimal types across the statement's tables
    * keeps Spark typing (no match / ambiguity → no rewrite, never a
    * wrong cast). Matches outside code (literals, comments) are skipped.
    * Lives in the front door so direct `GraftSession.sql` callers get
    * Hive 1.2 typing too. */
  private[graft] def hiveDecimalAvgCompat(
      spark: SparkSession, stmt: String): String = {
    if (!"""(?is).*\bavg\s*\(.*""".r.matches(stmt)) return stmt
    import org.apache.spark.sql.types._
    // exact table inventory: the parsed plan's unresolved relations
    // (subqueries included) — CTE-local names simply fail the lookup
    lazy val schemas: Seq[StructType] = {
      val names =
        try spark.sessionState.sqlParser.parsePlan(stmt)
          .collectWithSubqueries {
            case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
              r.multipartIdentifier.mkString(".")
          }.distinct
        catch { case _: Exception => Nil }
      names.flatMap { t =>
        try Some(spark.table(t).schema) catch { case _: Exception => None }
      }
    }
    // unambiguous-or-nothing: rewrite only when every table carrying the
    // column agrees on its type — a first-match-wins lookup could cast
    // with the WRONG table's decimal shape
    def colType(name0: String): Option[DataType] = {
      val name = name0.split('.').last
      if (!name.matches("""\w+""")) None
      else schemas.flatMap(_.fields.find(_.name.equalsIgnoreCase(name))
        .map(_.dataType)).distinct match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }
    val t = HiveQlText(stmt)
    AvgDecRe.replaceAllIn(stmt, m => {
      val repl =
        if (!t.code(m.start)) m.group(0)
        else colType(m.group(1)) match {
          // OVER may follow after whitespace and comments: a windowed avg
          // must stay a plain call, or the cast wraps it away from its OVER
          case Some(d: DecimalType)
              if d.precision + 4 > 38 && !t.isWord(t.skipSpace(m.end), "over") =>
            val intPart = d.precision - d.scale
            val scale = math.min(d.scale + 4, 38 - intPart)
            s"cast(${m.group(0)} as decimal(${intPart + scale}, $scale))"
          case _ => m.group(0)
        }
      java.util.regex.Matcher.quoteReplacement(repl)
    })
  }

  /** Rewrite one query scope: subquery paren-groups (starting with
    * SELECT/FROM/WITH) recurse as their own scopes and are shielded
    * behind placeholders; expression parens stay part of this scope.
    * If THIS scope's GROUP BY carries rollup/cube/grouping-sets, its
    * unqualified GROUPING__ID tokens become the bit-twiddle over
    * grouping_id(); bare select-list items keep the column name via
    * `AS grouping__id` so outer scopes can reference it as Hive's
    * virtual column flows. Qualified refs (t.GROUPING__ID) and scopes
    * without grouping analytics are column references and stay put. */
  private def groupingIdScope(s: String): String = {
    val store = scala.collection.mutable.ArrayBuffer.empty[String]
    def shield(x: String): String = {
      val t = HiveQlText(x)
      val out = new StringBuilder
      var i = 0
      while (i < x.length) {
        val c = x.charAt(i)
        if (!t.code(i)) { out += c; i += 1 }
        else if (c == '(') {
          val close = t.matchParen(i)
          val inner = x.substring(i + 1, close)
          val head = inner.dropWhile(_.isWhitespace).toUpperCase
          if (head.startsWith("SELECT") || head.startsWith("FROM") ||
              head.startsWith("WITH")) {
            store += groupingIdScope(inner)
            out.append('(').append('\u0000').append(store.size - 1)
              .append('\u0000').append(')')
          } else out.append('(').append(shield(inner)).append(')')
          i = close + 1
        } else { out += c; i += 1 }
      }
      out.toString
    }
    def unshield(x: String): String =
      """\u0000(\d+)\u0000""".r.replaceAllIn(x, m =>
        java.util.regex.Matcher.quoteReplacement(store(m.group(1).toInt)))

    val flat = shield(s)
    // does THIS scope group with rollup/cube/grouping sets?
    val gb = """(?is)\bgroup\s+by\b""".r.findFirstMatchIn(flat)
    val rewritten = gb match {
      case Some(m) =>
        val tail = flat.substring(m.end)
        val stops = Seq("having", "order", "limit", "sort",
          "distribute", "cluster", "window", "union")
        val cut = HiveQlText(tail).firstKeyword(stops: _*)
          .getOrElse(tail.length)
        val clause = tail.substring(0, cut)
        val hasAnalytics =
          """(?is)\bwith\s+(rollup|cube)\b""".r.findFirstIn(clause).isDefined ||
          """(?is)\bgrouping\s+sets\b""".r.findFirstIn(clause).isDefined
        if (!hasAnalytics) flat
        else {
          // grouping list = clause up to WITH/GROUPING SETS
          val listEnd = HiveQlText(clause).firstKeyword("with", "grouping")
            .getOrElse(clause.length)
          val n = HiveQlText(clause.substring(0, listEnd)).split(',').size
          if (n < 1 || n > 30) flat
          else {
            val expr = (0 until n).map { j =>
              s"(CASE WHEN (grouping_id() & ${1L << (n - 1 - j)}) = 0 " +
                s"THEN ${1L << j} ELSE 0 END)"
            }.mkString("(", " + ", ")")
            val re = """(?i)(?<![.\w])grouping__id\b""".r
            val sb = new StringBuilder
            var last = 0
            re.findAllMatchIn(flat).foreach { mm =>
              sb.append(flat.substring(last, mm.start))
              // bare select-list item keeps Hive's virtual column name
              val before = flat.substring(0, mm.start).reverse
                .dropWhile(_.isWhitespace)
              val after = flat.substring(mm.end).dropWhile(_.isWhitespace)
              val bareItem =
                (before.startsWith(",") ||
                  before.take(7).reverse.equalsIgnoreCase("select ") ||
                  before.take(6).reverse.toLowerCase.startsWith("select")) &&
                (after.startsWith(",") ||
                  after.take(5).equalsIgnoreCase("from ") || after.isEmpty)
              sb.append(if (bareItem) s"$expr AS grouping__id" else expr)
              last = mm.end
            }
            sb.append(flat.substring(last))
            sb.toString
          }
        }
      case None => flat
    }
    unshield(rewritten)
  }

  /** Hive evaluates navigation functions INSIDE a windowed aggregate —
    * `sum(lag(x, k[, def])) over w` is legal HiveQL (ref ql/udf/ptf/
    * WindowingTableFunction.java: lead/lag are evaluated against the
    * partition BEFORE the aggregate consumes its frame). Spark rejects
    * the nesting, so the front door restructures the statement into
    * Hive's own evaluation order: an inner SELECT computes each nav
    * value as a column, the outer SELECT aggregates it over the same
    * window. Both windows keep their default frames — two streaming
    * window passes over one shuffle, never a per-row partition
    * materialization (the bounded implementation VERDICT r09 #8 asked
    * for; the qtest runner's golden-gated collect_list fold remains
    * only as a fallback for shapes this rewrite declines).
    *
    * Applies ONLY to the statically-safe shape: one top-level SELECT
    * (no WITH / set ops / GROUP BY / HAVING / DISTINCT), aggregate in
    * {sum, avg, min, max, count}, nav fn in {lag, lead}, frame-less
    * ordered window. Returns None otherwise — the caller retries only
    * after Spark already rejected, and rethrows the original error if
    * this declines. */
  private[graft] def hiveNestedNavFn(stmt0: String): Option[String] = {
    var stmt = stmt0.replaceAll(";+\\s*$", "")
    val lead = stmt.dropWhile(_.isWhitespace)
    if (!lead.take(6).equalsIgnoreCase("select")) return None
    if ("""(?is)^\s*select\s+distinct\b.*""".r.matches(stmt)) return None
    if (HiveQlText(stmt).firstKeyword("union", "intersect", "except", "group",
        "having").isDefined) return None
    // inline named windows so the whole statement can be re-scoped
    val named = HiveQlText(stmt).windowSpans.collect { case (Some(n), o, c) =>
      n -> stmt.substring(o + 1, c) }
    named.foreach { case (n, spec) =>
      stmt = stmt.replaceAll(
        s"(?i)\\bover\\s+`?${java.util.regex.Pattern.quote(n)}`?(?![\\w])",
        java.util.regex.Matcher.quoteReplacement(s"over ($spec)"))
    }
    if (named.nonEmpty) {
      // the WINDOW clause is now dead — remove it
      val t = HiveQlText(stmt)
      t.firstKeyword("window").foreach { wIdx =>
        var j = wIdx + 6
        var end = wIdx
        var more = true
        while (more) {
          more = false
          j = t.skipSpace(t.identEnd(t.skipSpace(j)))
          if (t.isWord(j, "as")) {
            val k = t.skipSpace(j + 2)
            if (k < stmt.length && stmt.charAt(k) == '(') {
              val close = t.matchParen(k)
              end = close + 1
              val m = t.skipSpace(close + 1)
              if (m < stmt.length && stmt.charAt(m) == ',') {
                j = m + 1; more = true
              }
            }
          }
        }
        if (end > wIdx) stmt = stmt.substring(0, wIdx) + stmt.substring(end)
      }
    }
    // find agg(nav(...)) over (spec) occurrences
    val NestRe = """(?i)\b(sum|avg|min|max|count)\s*\(\s*(lag|lead)\s*\(""".r
    val t = HiveQlText(stmt)
    final case class Hit(start: Int, end: Int, agg: String, navExpr: String,
      spec: String)
    val hits = scala.collection.mutable.ArrayBuffer.empty[Hit]
    NestRe.findAllMatchIn(stmt).foreach { m =>
      if (t.code(m.start)) {
        val aggOpen = stmt.indexOf('(', m.start)
        val navOpen = m.end - 1
        val navClose = t.matchParen(navOpen)
        val aggClose = t.matchParen(aggOpen)
        val tight = stmt.substring(navClose + 1, aggClose).trim.isEmpty
        val j = t.skipSpace(aggClose + 1)
        if (tight && t.isWord(j, "over")) {
          val k = t.skipSpace(j + 4)
          if (k < stmt.length && stmt.charAt(k) == '(') {
            val specClose = t.matchParen(k)
            val spec = stmt.substring(k + 1, specClose)
            val st = HiveQlText(spec)
            if (st.firstKeyword("rows", "range").isEmpty &&
                st.firstKeyword("order", "sort").isDefined)
              hits += Hit(m.start, specClose + 1, m.group(1),
                m.group(2) + stmt.substring(navOpen, navClose + 1), spec)
          }
        }
      }
    }
    if (hits.isEmpty) return None
    // split: SELECT <list> FROM <innerTail> [ORDER BY/LIMIT trail]
    val fromIdx = t.firstKeyword("from").getOrElse(return None)
    if (hits.exists(_.end > fromIdx)) return None // nav in WHERE etc.
    val tail = stmt.substring(fromIdx)
    val trailIdx = HiveQlText(tail)
      .firstKeyword("order", "limit", "sort", "cluster", "distribute")
    val (innerTail, trail) = trailIdx match {
      case Some(i) => (tail.substring(0, i), tail.substring(i))
      case None => (tail, "")
    }
    val navDefs = hits.zipWithIndex.map { case (h, i) =>
      s"${h.navExpr} over (${h.spec}) AS __graft_nav$i"
    }
    val sb = new StringBuilder(stmt.substring(0, fromIdx))
    hits.zipWithIndex.sortBy(-_._1.start).foreach { case (h, i) =>
      sb.replace(h.start, h.end,
        s"${h.agg}(__graft_nav$i) over (${h.spec})")
    }
    val selHead = sb.toString
    Some(s"$selHead FROM (SELECT *, ${navDefs.mkString(", ")} " +
      s"$innerTail) __graft_nav_src $trail")
  }

  /** Hive pipes TRANSFORM scripts TAB-delimited rows (ScriptOperator's
    * default LazySimpleSerDe wire format); Spark's non-Hive transform
    * defaults to  — so a script manipulating tabs (`tr \t _`,
    * `cut -f2`) sees different bytes. Make Hive's default explicit on
    * both sides unless the statement declares its own ROW FORMAT. */
  private[graft] def hiveTransformDefaults(stmt: String): String = {
    if (!"""(?is).*\bTRANSFORM\s*\(.*""".r.matches(stmt)) return stmt
    if ("""(?is).*\bROW\s+FORMAT\b.*""".r.matches(stmt)) return stmt
    // only the parenthesized-AS form carries a complete clause shape we
    // can format on both sides; bare `AS a, b` stays on Spark defaults
    if (!"""(?is).*\bUSING\s+'(?:\\.|[^'])*'\s+AS\s*\(.*""".r.matches(stmt))
      return stmt
    val RF = "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' "
    var out = """(?i)\bUSING\s+'""".r.replaceAllIn(stmt,
      m => java.util.regex.Matcher.quoteReplacement(RF + m.group(0)))
    out = """(?i)(\bUSING\s+'(?:\\.|[^'])*'\s+AS\s*\([^)]*\))""".r
      .replaceAllIn(out,
        m => java.util.regex.Matcher.quoteReplacement(m.group(1) + " " + RF))
    out
  }

  /** Hive-1.2 semantic rejections Spark does not enforce — kept for
    * negative-surface parity (ref ql/src/test/queries/clientnegative):
    * TRANSFORM duplicate output alias (SemanticAnalyzer.java error
    * 10074, duplicate_alias_in_transform.q) and LINES TERMINATED BY
    * other than '\n' (ErrorMsg.LINES_TERMINATED_BY_NON_NEWLINE,
    * line_terminator.q — Hive's LazySimpleSerDe only writes newline
    * records, so accepting the clause would silently mis-read data). */
  private def hiveNegativeChecks(stmt: String): Unit = {
    // All scanning happens over the blanked text (literals and comments
    // turned to spaces) so a keyword INSIDE a string literal or comment
    // can never trigger a rejection; literal CONTENT is read back from
    // the original text by position.
    val t = HiveQlText(stmt)
    val blank = t.blanked
    if ("""(?is).*\bTRANSFORM\s*\(.*""".r.matches(blank)) {
      // in the blanked text the USING program literal is spaces
      val asRe = """(?is)\bUSING\s+AS\s*\(([^)]*)\)""".r
      asRe.findAllMatchIn(blank).foreach { m =>
        val names = m.group(1).split(",")
          .map(_.trim.split("\\s+").head.toLowerCase).filter(_.nonEmpty)
        names.groupBy(identity).collectFirst {
          case (n, v) if v.size > 1 => n
        }.foreach { d =>
          throw new IllegalArgumentException(
            s"Column alias already exists: $d")
        }
      }
    }
    """(?is)\bLINES\s+TERMINATED\s+BY\b""".r
      .findAllMatchIn(blank).foreach { m =>
        t.literalAt(m.end).foreach { lit =>
          if (lit != "\\n" && lit != "\n")
            throw new IllegalArgumentException(
              "LINES TERMINATED BY only supports newline '\\n' right now")
        }
      }
    // SHOW COLUMNS with a db-qualified table name AND a FROM/IN <db>
    // clause is rejected regardless of whether the two agree (ref
    // DDLSemanticAnalyzer.analyzeShowColumns; clientnegative
    // show_columns3). Spark accepts the agreeing form.
    if ("""(?is)\A\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+[\w`]+\.[\w`]+\s+(?:FROM|IN)\s+\S+.*""".r
        .matches(blank))
      throw new IllegalArgumentException(
        "Duplicates declaration for database name")
    // Hive caps CHAR at 255 and VARCHAR at 65535, minimum 1
    // (serde typeinfo HiveChar.MAX_CHAR_LENGTH / HiveVarchar
    // .MAX_VARCHAR_LENGTH; clientnegative invalid_char_length_*,
    // invalid_varchar_length_*). Spark accepts any length.
    """(?i)\b(char|varchar)\s*\(\s*(\d+)\s*\)""".r
      .findAllMatchIn(blank).foreach { m =>
        val n = m.group(2).toLong
        val cap = if (m.group(1).equalsIgnoreCase("char")) 255L else 65535L
        if (n < 1 || n > cap)
          throw new IllegalArgumentException(
            s"${m.group(1).toUpperCase} length $n out of allowed " +
              s"range [1, $cap]")
      }
    // Hive only casts STRING/BINARY to BINARY (ErrorMsg
    // INVALID_CAST_TO_BINARY, clientnegative invalid_cast_to_binary_*);
    // Spark would happily emit the numeric's byte representation.
    // Enforce the provable cases: a numeric literal, or a cast to a
    // numeric type, directly under CAST(... AS BINARY).
    """(?i)\bcast\s*\(\s*(\d+(?:\.\d+)?|cast\s*\([^()]*\)\s*)\s*as\s+binary\s*\)""".r
      .findAllMatchIn(blank).foreach { m =>
        val operand = m.group(1).trim
        val numericInner = operand.matches("""\d+(\.\d+)?""") ||
          """(?i)as\s+(tinyint|smallint|int|integer|bigint|float|double|decimal[^)]*)\s*\)\s*$"""
            .r.findFirstIn(operand).isDefined
        if (numericInner)
          throw new IllegalArgumentException(
            "CAST to BINARY is only allowed from string or binary types")
      }
    // Hive validates the implementation class at CREATE FUNCTION time
    // (FunctionTask: the class must load and be a UDF/GenericUDF/UDAF/
    // GenericUDTF — clientnegative/create_function_nonudf_class.q);
    // Spark defers to first use. Validate eagerly: accept Hive builtin
    // implementation classes (functions.HiveFnAliases — registered by
    // the route below), Catalyst Expressions, Spark java UDF1..22 and
    // Aggregators. Class.forName with initialize=false: analysis of
    // SQL text must never run arbitrary static initializers.
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?FUNCTION\s+[`\w.]+\s+AS\b""".r
      .findFirstMatchIn(blank).foreach { m =>
        val cls = t.literalAt(m.end).getOrElse("")
        val ok = functions.HiveFnAliases.builtinFor(cls).isDefined || {
          try {
            val c = Class.forName(cls, false,
              Thread.currentThread.getContextClassLoader)
            classOf[org.apache.spark.sql.catalyst.expressions.Expression]
              .isAssignableFrom(c) ||
            classOf[org.apache.spark.sql.expressions.Aggregator[_, _, _]]
              .isAssignableFrom(c) ||
            c.getInterfaces.exists(
              _.getName.startsWith("org.apache.spark.sql.api.java.UDF"))
          } catch { case _: Throwable => false }
        }
        if (!ok) throw new IllegalArgumentException(
          s"CREATE FUNCTION: class $cls does not implement a function " +
            "interface")
      }
  }

  /** HiveQL front door: Hive-only statement forms are routed to graft
    * implementations, everything else to `spark.sql`. DDL-style routes
    * return an empty DataFrame (like Hive's no-result statements).
    * Trailing semicolons (standard in HiveQL scripts) are stripped. */
  def sql(spark: SparkSession, stmt: String): DataFrame = {
    val stripped = hiveDecimalAvgCompat(spark,
      hiveGroupingIdCompat(hiveGroupingSetsCompat(hiveWindowCompat(
        hiveStructCompat(hiveCteForwardRefs(
          stmt.replaceAll(";+\\s*$", "")))))))
    hiveNegativeChecks(stripped)
    stripped match {
      case MacroRe() =>
        functions.Macros.sql(spark, stripped)
        spark.emptyDataFrame
      case CreateHiveFnRe(name, cls)
          if functions.HiveFnAliases.builtinFor(cls).isDefined =>
        // Hive builtin implementation class re-registered under an
        // alias — delegate to the engine builtin with the same
        // semantics (FunctionTask accepts these; VERDICT r09 #3).
        // Hive's name rules still apply: a TEMPORARY function name
        // must be unqualified (FunctionSemanticAnalyzer error 10328,
        // clientnegative/udf_qualified_name.q) and a permanent one
        // needs an existing database (create_function_nonexistent_db.q)
        if (name.contains(".")) {
          if ("""(?is)\s*CREATE\s+TEMPORARY\b.*""".r.matches(stripped))
            throw new IllegalArgumentException(
              "Temporary function cannot be created with a qualified " +
                s"name: $name")
          val db = name.split('.').head
          if (!spark.catalog.databaseExists(db))
            throw new IllegalArgumentException(
              s"Database does not exist: $db")
        }
        functions.HiveFnAliases.register(
          spark, name.split('.').last, cls)
        spark.emptyDataFrame
      case LoadRe(local, path, overwrite, table, partSpec) =>
        // LOCAL INPATH copies and preserves the user's source files;
        // plain INPATH has Hive's move semantics
        Warehouse.loadData(spark, path, table,
          overwrite = overwrite != null,
          partition = Option(partSpec).map(HiveQlText.parsePartitionSpec)
            .getOrElse(Nil),
          move = local == null)
        spark.emptyDataFrame
      case ExportRe(table, path) =>
        Warehouse.exportTable(spark, table, path); spark.emptyDataFrame
      case ImportRe(table, path) =>
        Warehouse.importTable(spark, table, path); spark.emptyDataFrame
      case ExchangePartRe(dest, spec, src) =>
        // metadata-level partition re-homing (ref DDLSemanticAnalyzer
        // analyzeExchangePartition); Spark has no such statement
        Warehouse.exchangePartition(spark, dest,
          HiveQlText.parsePartitionSpec(spec), src)
        spark.emptyDataFrame
      // ACID-registered names: route DML to delta-layout transactions
      // (Hive's ACID SQL surface, incl. ALTER TABLE ... COMPACT —
      // ql/ddl AlterTableSimpleDesc compact path); the view refreshes to
      // the new census after every routed txn
      case InsertIntoRe(table, query)
          if Acid.registeredPath(table).isDefined =>
        // positional bind + cast to the table schema (Hive INSERT
        // semantics) — an unaligned literal type (0.5 is DECIMAL in
        // SQL) must not fork the stored row-struct schema across deltas
        val df = spark.sql(query)
        val target = spark.table(table).schema
        require(df.columns.length == target.fields.length,
          s"INSERT arity ${df.columns.length} != ${target.fields.length} " +
            s"columns of $table")
        // positional rename BEFORE selecting: a literal's generated name
        // ("0.5") would otherwise parse as a nested-field accessor
        val renamed = df.toDF(target.fields.map(_.name): _*)
        val aligned = renamed.select(target.fields.map(f =>
          renamed(f.name).cast(f.dataType).as(f.name)): _*)
        Acid.insertTxn(spark, Acid.registeredPath(table).get, aligned)
        Acid.refresh(spark, table)
        spark.emptyDataFrame
      case UpdateRe(table, rest) if Acid.registeredPath(table).isDefined =>
        val (sets, where) = splitSetWhere(rest)
        Acid.updateTxn(spark, Acid.registeredPath(table).get,
          parseSetClause(sets), where.getOrElse("true"))
        Acid.refresh(spark, table)
        spark.emptyDataFrame
      case DeleteRe(table, where) if Acid.registeredPath(table).isDefined =>
        Acid.deleteTxn(spark, Acid.registeredPath(table).get,
          Option(where).getOrElse("true"))
        Acid.refresh(spark, table)
        spark.emptyDataFrame
      case AlterCompactRe(table, partSpec, kind)
          if Acid.registeredPath(table).isDefined =>
        val root = Acid.registeredPath(table).get
        // PARTITION (k='v') compacts that partition's own tree, the
        // reference's per-partition compaction queue entry
        val dir = Option(partSpec).map(HiveQlText.parsePartitionSpec)
          .getOrElse(Nil)
          .foldLeft(root) { case (p, (k, v)) => s"$p/$k=$v" }
        if (kind.equalsIgnoreCase("major")) Acid.compactMajor(spark, dir)
        else Acid.compactMinor(spark, dir)
        Acid.refresh(spark, table)
        spark.emptyDataFrame
      case UpdateRe(table, rest) =>
        val (sets, where) = splitSetWhere(rest)
        Warehouse.update(spark, table, parseSetClause(sets),
          where.getOrElse("true"))
        spark.emptyDataFrame
      case DeleteRe(table, where) =>
        Warehouse.delete(spark, table, Option(where).getOrElse("true"))
        spark.emptyDataFrame
      case MergeRe(tgt, tAls, src, sAls, rest) =>
        val (on, clauseTexts) = splitOnWhen(rest)
        val matched =
          scala.collection.mutable.ArrayBuffer.empty[Warehouse.MatchedClause]
        var insert: Option[Warehouse.NotMatchedInsert] = None
        clauseTexts.foreach {
          case MergeInsRe(c, vals) =>
            require(insert.isEmpty, "MERGE allows one NOT MATCHED clause")
            insert = Some(Warehouse.NotMatchedInsert(Option(c),
              HiveQlText(vals).split(',')))
          case MergeUpdRe(c, sets) =>
            matched += Warehouse.MatchedUpdate(Option(c), parseSetClause(sets))
          case MergeDelRe(c) =>
            matched += Warehouse.MatchedDelete(Option(c))
          case other => sys.error(s"unsupported MERGE clause: WHEN $other")
        }
        Acid.registeredPath(tgt) match {
          case Some(path) =>
            Acid.mergeTxn(spark, path, spark.table(src),
              Option(sAls).getOrElse(src.split('.').last),
              Option(tAls).getOrElse(tgt.split('.').last),
              on, matched.toSeq, insert)
            Acid.refresh(spark, tgt)
          case None =>
            Warehouse.merge(spark, tgt,
              Option(tAls).getOrElse(tgt.split('.').last),
              spark.table(src),
              Option(sAls).getOrElse(src.split('.').last),
              on, matched.toSeq, insert)
        }
        spark.emptyDataFrame
      case other if isMultiInsert(other) => multiInsert(spark, other)
      case other =>
        val stmtT = hiveTransformDefaults(other)
        try spark.sql(stmtT)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains(
                "WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE") =>
            // legal HiveQL: nav fn inside a windowed aggregate —
            // restructure into Hive's evaluation order (see
            // hiveNestedNavFn); rethrow Spark's error if declined
            hiveNestedNavFn(stmtT).map(spark.sql).getOrElse(throw e)
        }
    }
  }

  // -- single-statement multi-insert -----------------------------------
  // Hive's FROM-first form (ref: ql/parse/SemanticAnalyzer.java:6241,
  // HiveParser.g fromStatement → multi insertClause+): ONE source scan
  // feeding N sinks. Spark has no native equivalent statement, so the
  // front door parses it and executes each INSERT over one shared
  // materialization of the FROM source (persisted before the first
  // insert, released after the last) — the reference's one-scan-many-
  // sinks contract, expressed as cache-reuse instead of operator DAG
  // fan-out. For a FROM source too complex to rebind (a bare multi-table
  // join), the inserts re-scan; Catalyst's ReuseExchange still shares
  // what it can.

  private val InsertClauseRe =
    """(?is)\s*(OVERWRITE|INTO)\s+(?:TABLE\s+)?([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?\s*(SELECT\b.+)""".r
  private val InsertDirClauseRe =
    """(?is)\s*OVERWRITE\s+(LOCAL\s+)?DIRECTORY\s+'([^']+)'\s*(SELECT\b.+)""".r
  private val SimpleFromRe = """(?is)\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*""".r
  private val SubqueryFromRe = """(?is)\s*(\(.+\))\s+(?:AS\s+)?(\w+)\s*""".r

  private def isMultiInsert(s: String): Boolean = {
    val t = s.dropWhile(_.isWhitespace)
    t.length >= 4 && t.substring(0, 4).equalsIgnoreCase("from") &&
      HiveQlText(s).firstKeyword("insert").isDefined
  }

  private def multiInsert(spark: SparkSession, stmt: String): DataFrame = {
    val cuts = HiveQlText(stmt).keywords("insert")
    val fromKw = stmt.toLowerCase.indexOf("from")
    val fromPart = stmt.substring(fromKw + 4, cuts.head).trim
    // MAP/REDUCE clause forms are TRANSFORM synonyms (HiveParser.g
    // selectClause: KW_MAP/KW_REDUCE selectExpressionList USING ... —
    // identical semantics, mapreduce*.q)
    val MapReduceRe =
      ("""(?is)^((?:OVERWRITE|INTO)\s+TABLE\s+\S+""" +
        """(?:\s*PARTITION\s*\([^)]*\))?\s+)(?:MAP|REDUCE)\s+(.*?)""" +
        """\s+(USING\s+'.*)$""").r
    val clauses = (cuts :+ stmt.length).sliding(2).map {
      case Seq(a, b) => stmt.substring(a + 6, b).trim
    }.toSeq.map {
      case MapReduceRe(head, exprs, rest) =>
        s"${head}SELECT TRANSFORM ($exprs) $rest"
      case c => c
    }
    // each clause is a table sink or a directory sink (Hive
    // FileSinkOperator to a path — ref HiveParser.g destination)
    sealed trait Sink
    case class TableSink(overwrite: Boolean, table: String,
        part: Option[String], select: String) extends Sink
    case class DirSink(path: String, select: String) extends Sink
    val parsed: Seq[Sink] = clauses.map {
      case InsertDirClauseRe(_, path, select) => DirSink(path, select)
      case InsertClauseRe(mode, table, partSpec, select) =>
        TableSink(mode.equalsIgnoreCase("OVERWRITE"), table,
          Option(partSpec), select)
      case other => sys.error(s"unsupported multi-insert clause: INSERT $other")
    }
    // Hive rejects the same output appearing twice in one multi-insert
    // (SemanticAnalyzer ErrorMsg.OUTPUT_SPECIFIED_MULTIPLE_TIMES;
    // clientnegative duplicate_insert1-3) — same (table, partition
    // spec) or same directory
    val sinkKeys = parsed.map {
      case TableSink(_, table, part, _) =>
        table.toLowerCase + part.map(p =>
          "/" + p.toLowerCase.replaceAll("\\s+", "")).getOrElse("")
      case DirSink(path, _) => "dir:" + path
    }
    sinkKeys.groupBy(identity).collectFirst {
      case (k, v) if v.size > 1 => k
    }.foreach { dup =>
      throw new IllegalArgumentException(
        s"The same output cannot be present multiple times: $dup")
    }
    // rebindable source? (single table/subquery, optionally aliased)
    // (bind name, is-subquery, alias-shadows-another-relation): an
    // ALIAS equal to some existing temp view must NOT be mistaken for
    // that view (FROM srcpart src — groupby_ppr.q: "src" is also a
    // fixture view)
    val bind: Option[(String, Boolean, Boolean)] = fromPart match {
      case SimpleFromRe(tbl, alias) =>
        val name = Option(alias).getOrElse(tbl.split('.').last)
        val aliased = Option(alias)
          .exists(a => !a.equalsIgnoreCase(tbl.split('.').last))
        Some((name, false, aliased))
      case SubqueryFromRe(_, alias) => Some((alias, true, false))
      case _ => None
    }
    def runInserts(fromText: String): Unit = parsed.foreach {
      case TableSink(overwrite, table, partSpec, select) =>
        val part = partSpec.map(p => s" PARTITION ($p)").getOrElse("")
        val mode = if (overwrite) "OVERWRITE" else "INTO"
        sql(spark, s"INSERT $mode TABLE $table$part " +
          spliceFrom(select, fromText))
      case DirSink(path, select) =>
        writeDirectory(spark, path,
          spark.sql(hiveTransformDefaults(spliceFrom(select, fromText))))
    }
    bind match {
      case Some((name, isSubquery, aliased)) =>
        val tempExists = !aliased && spark.catalog.tableExists(name) &&
          spark.catalog.getTable(name).isTemporary
        if (tempExists && !isSubquery) {
          // the source IS already a temp view — cache it in place
          spark.catalog.cacheTable(name)
          try runInserts(name) finally spark.catalog.uncacheTable(name)
        } else {
          val df = spark.sql(s"SELECT * FROM $fromPart")
          WorkingSet.using(df) {
            df.createOrReplaceTempView(name)
            try runInserts(name)
            finally spark.catalog.dropTempView(name)
          }
        }
      case None => runInserts(fromPart) // multi-table join source: re-scan
    }
    spark.emptyDataFrame
  }

  /** Insert `FROM x` into a bare Hive multi-insert SELECT clause at the
    * spot the grammar implies: before the first top-level WHERE / GROUP /
    * HAVING / ORDER / SORT / DISTRIBUTE / CLUSTER / LIMIT / UNION, or at
    * the end when the clause is projection-only. */
  private def spliceFrom(select: String, fromText: String): String = {
    val tailKws = Seq("where", "group", "having", "order", "sort",
      "distribute", "cluster", "limit", "union", "window")
    val cut = HiveQlText(select).firstKeyword(tailKws: _*)
      .getOrElse(select.length)
    s"${select.substring(0, cut)} FROM $fromText ${select.substring(cut)}"
  }

  /** INSERT OVERWRITE DIRECTORY sink: rows in Hive's default text form
    * (LazySimpleSerDe — ^A field delimiter, \N nulls), the reference's
    * FileSinkOperator-to-path behavior. Relative paths land under the
    * session's warehouse scratch dir, as Hive resolves them against the
    * warehouse. */
  private def writeDirectory(spark: SparkSession, path: String,
      df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit}
    val dest =
      if (path.startsWith("/")) path
      else new java.io.File(
        new java.io.File(spark.conf.get(
          "spark.sql.warehouse.dir").stripPrefix("file:")),
        path).getPath
    val line = concat_ws("\u0001", df.columns.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\\N"))).toIndexedSeq: _*)
    df.select(line.as("value")).write.mode("overwrite").text(dest)
  }
}
