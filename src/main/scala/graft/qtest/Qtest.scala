package graft.qtest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Reference qtest ("golden file") plumbing: statement splitting for `.q`
  * scripts, result-block extraction from `.q.out` golden files, and
  * Hive-text row formatting — so the reference's own acceptance scripts
  * (ref: the .q scripts under ql/src/test/queries/clientpositive, harness
  * ql/src/test/org/apache/hadoop/hive/ql/QTestUtil.java) run VERBATIM
  * through the engine's SQL front door and are checked against the
  * reference's own expected outputs.
  *
  * Comparison protocol: rows are formatted exactly as the reference
  * prints them (tab-separated, NULL literal, Java Double.toString, …)
  * and compared as multisets (both sides sorted) — the reference's own
  * `-- SORT_QUERY_RESULTS` discipline (windowing.q:2) generalized, since
  * row order without a total ORDER BY is engine-scheduling-dependent.
  */
object Qtest {

  // -- .q script splitting ---------------------------------------------

  /** Split a HiveQL script into statements on the semicolons in code
    * (graft.HiveQlText). Pure-comment/empty fragments are dropped, but
    * comments attached to a statement are preserved (the reference
    * echoes them into the golden file). */
  def splitStatements(script: String): Seq[String] =
    hive12(script).statements.map(_.trim)
      .filter(s => stripComments(s).trim.nonEmpty)

  /** Drop `--` comment text, literals untouched. */
  def stripComments(s: String): String = hive12(s).stripComments

  /** The scripts follow Hive 1.2's CLI and lexer, which have `--`
    * comments only: slash-star is code, so a `dfs -ls` glob ending in it
    * neither swallows the statements after it nor loses its star. */
  private def hive12(s: String) = graft.HiveQlText(s, blockComments = false)

  /** Whitespace-collapsed comment-free form, for statement↔golden-echo
    * alignment checks. */
  def normalize(s: String): String =
    stripComments(s).split("\\s+").filter(_.nonEmpty).mkString(" ")

  // -- .q.out golden parsing -------------------------------------------

  /** One golden block: the echoed statement and its result rows (empty
    * for DDL/DML), plus the PREHOOK operation-type token ("QUERY",
    * "LOAD", "CREATETABLE", ...) — the alignment cross-check for
    * blocks whose echo was fully masked away. */
  final case class GoldenBlock(query: String, rows: Seq[String],
      hookType: String = "")

  private val Masked = "#### A masked pattern was here ####"

  /** Parse a `.q.out` file into ordered blocks. Layout per statement
    * (QTestUtil golden format): `PREHOOK: query:` + echoed statement
    * lines, PREHOOK metadata lines, `POSTHOOK: query:` + echo again,
    * POSTHOOK metadata lines (type/Input/Output/Lineage), then the
    * result rows verbatim until the next `PREHOOK: query:`. Masked
    * path placeholders and harness warnings are dropped. */
  def parseGolden(text: String): Seq[GoldenBlock] = {
    val lines = text.split("\n", -1)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[GoldenBlock]
    var i = 0
    def skipMetaAndCollect(q: String): Unit = {
      // skip PREHOOK metadata + the POSTHOOK echo + POSTHOOK metadata,
      // capturing the PREHOOK operation type on the way through
      var hook = ""
      while (i < lines.length && (lines(i).startsWith("PREHOOK:") ||
          lines(i) == Masked)) {
        if (lines(i).startsWith("PREHOOK: type:"))
          hook = lines(i).stripPrefix("PREHOOK: type:").trim
        i += 1
      }
      if (i < lines.length && lines(i).startsWith("POSTHOOK: query:")) {
        i += 1
        while (i < lines.length && !lines(i).startsWith("POSTHOOK:") &&
            lines(i) != Masked) i += 1
      }
      while (i < lines.length && (lines(i).startsWith("POSTHOOK:") ||
          lines(i) == Masked)) i += 1
      // result rows until the next block — which may open with
      // "PREHOOK: type:" when its own query echo was masked away
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      while (i < lines.length && !lines(i).startsWith("PREHOOK: query:") &&
          !lines(i).startsWith("PREHOOK: type:")) {
        val l = lines(i)
        if (l != Masked && !l.startsWith("Warning: ") &&
            !l.startsWith("WARNING: ") && !l.startsWith("RUN: ") &&
            !(i == lines.length - 1 && l.isEmpty)) rows += l
        i += 1
      }
      blocks += GoldenBlock(q, rows.toSeq, hook)
    }
    while (i < lines.length) {
      if (lines(i).startsWith("PREHOOK: query:")) {
        // echoed statement: first line after the marker + continuation
        // lines until a PREHOOK metadata line
        val q = new StringBuilder(lines(i).stripPrefix("PREHOOK: query:").trim)
        i += 1
        while (i < lines.length && !lines(i).startsWith("PREHOOK:") &&
            !lines(i).startsWith("POSTHOOK:") && lines(i) != Masked) {
          q.append('\n').append(lines(i)); i += 1
        }
        skipMetaAndCollect(q.toString)
      } else if (lines(i).startsWith("PREHOOK: type:")) {
        // a block whose entire PREHOOK echo was masked (the statement
        // text contained a masked path — e.g. ADD PARTITION LOCATION
        // '<warehouse path>'): empty query, positional alignment only
        skipMetaAndCollect("")
      } else i += 1
    }
    blocks.toSeq
  }

  // -- Hive-text row formatting ----------------------------------------

  /** Format one row exactly as the reference CLI prints it
    * (ref: serde LazySimpleSerDe / DelimitedJSONSerDe text form):
    * tab-separated fields, NULL for null, Java toString for numerics
    * (Double.toString keeps Hive's "5702.650000000001" shape),
    * timestamps without trailing zero fraction, decimals normalized,
    * arrays/maps/structs as the JSON-ish complex form. */
  /** The reference harness runs in US/Pacific (QTestUtil sets the VM
    * timezone), so golden timestamp text is Pacific wall-clock; the
    * formatter renders collected instants in the same zone. */
  val GoldenZone: java.time.ZoneId = java.time.ZoneId.of("America/Los_Angeles")

  def formatRow(row: Row, schema: StructType): String =
    schema.fields.indices.map { i =>
      formatValue(row.get(i), schema.fields(i).dataType, top = true)
    }.mkString("\t")

  def formatValue(v: Any, dt: DataType, top: Boolean): String = {
    if (v == null) return if (top) "NULL" else "null"
    dt match {
      case StringType =>
        val s = v.toString
        if (top) s else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => v.toString
      case _: DecimalType =>
        val bd = v.asInstanceOf[java.math.BigDecimal].stripTrailingZeros
        // stripTrailingZeros turns 100 into 1E+2; undo scientific form
        if (bd.scale < 0) bd.setScale(0).toPlainString else bd.toPlainString
      case DateType =>
        // inside complex types Hive's JSON-ish rendering quotes dates
        // like strings (udf_sort_array golden)
        if (top) v.toString else "\"" + v.toString + "\""
      case TimestampType | TimestampNTZType =>
        val ldt = v match {
          case t: java.sql.Timestamp =>
            java.time.LocalDateTime.ofInstant(t.toInstant, GoldenZone)
          case t: java.time.LocalDateTime => t
          case t: java.time.Instant =>
            java.time.LocalDateTime.ofInstant(t, GoldenZone)
        }
        val base0 = java.sql.Timestamp.valueOf(ldt).toString
        val base = if (base0.endsWith(".0")) base0.dropRight(2) else base0
        if (top) base else "\"" + base + "\""
      case BinaryType => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
      case ArrayType(et, _) =>
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(e => formatValue(e, et, top = false)).mkString("[", ",", "]")
      case MapType(kt, vt, _) =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
          .map { case (k, mv) =>
            formatValue(k, kt, top = false) + ":" + formatValue(mv, vt, top = false)
          }.mkString("{", ",", "}")
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        st.fields.indices.map { i =>
          "\"" + st.fields(i).name + "\":" + formatValue(r.get(i), st.fields(i).dataType, top = false)
        }.mkString("{", ",", "}")
      // Hive interval text (common/type/HiveIntervalDayTime.toString
      // :183 "%s%d %02d:%02d:%02d.%09d" / HiveIntervalYearMonth
      // "%s%d-%d"), not java.time's ISO-8601 Duration/Period form
      case _: DayTimeIntervalType =>
        val micros = v match {
          case d: java.time.Duration =>
            d.getSeconds * 1000000L + d.getNano / 1000L
          case l: Long => l
        }
        val sign = if (micros < 0) "-" else ""
        val a = math.abs(micros)
        val days = a / 86400000000L
        val h = a / 3600000000L % 24
        val m = a / 60000000L % 60
        val s = a / 1000000L % 60
        val nanos = a % 1000000L * 1000L
        f"$sign$days%d $h%02d:$m%02d:$s%02d.$nanos%09d"
      case _: YearMonthIntervalType =>
        val months = v match {
          case p: java.time.Period => p.getYears * 12 + p.getMonths
          case i: Int => i
        }
        val sign = if (months < 0) "-" else ""
        s"$sign${math.abs(months) / 12}-${math.abs(months) % 12}"
      case CalendarIntervalType => v.toString
      case other => sys.error(s"qtest formatter: unhandled type $other")
    }
  }
}
