package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, With}
import org.apache.spark.sql.types.DataType

/** Hive SQL macros — `CREATE TEMPORARY MACRO name(p TYPE, ...) body` /
  * `DROP TEMPORARY MACRO name` (reference:
  * ql/parse/MacroSemanticAnalyzer.java:71-75, grammar TOK_CREATEMACRO /
  * TOK_DROPMACRO in ql/parse/HiveParser.g).
  *
  * Spark-first realization: a macro is pure expression substitution, so it
  * registers as a FunctionRegistry builder that parses the body ONCE and, at
  * each call site, grafts the argument expressions into the body tree in
  * place of the parameter references. The result is ordinary Catalyst
  * expressions — constant-folded, pushed down, and whole-stage-codegen'd
  * exactly as if the user had written the expansion inline. No UDF, no
  * interpretation overhead, no closure capture.
  *
  * Hive-matching rules enforced at create time (MacroSemanticAnalyzer):
  * duplicate parameter names are rejected, and every column reference in the
  * body must be one of the declared parameters (a macro body cannot capture
  * table columns). Arguments are cast to the declared parameter types, which
  * is how Hive's typed macro signature behaves.
  */
object Macros {

  /** Create (or replace) a session macro. Parameter types are SQL type
    * strings (`"double"`, `"decimal(12,2)"`, ...). */
  def create(
      spark: SparkSession,
      name: String,
      params: Seq[(String, String)],
      bodySql: String): Unit = {
    val parser = spark.sessionState.sqlParser
    val typed: Seq[(String, DataType)] =
      params.map { case (p, t) => (p.toLowerCase, parser.parseDataType(t)) }
    require(typed.map(_._1).distinct.size == typed.size,
      s"macro $name: duplicate parameter name")

    val body = parser.parseExpression(bodySql)
    val paramSet = typed.map(_._1).toSet
    // every column reference must resolve to a declared parameter. A
    // qualified reference like `s.a` is legal only when its head is a
    // (struct-typed) parameter — the tail is field access, not a table
    // qualifier; a macro body can never capture table columns.
    val refs = body.collect { case a: UnresolvedAttribute => a }
    val qualified = refs.filter(a => a.nameParts.length != 1 &&
      !paramSet.contains(a.nameParts.head.toLowerCase))
    require(qualified.isEmpty,
      s"macro $name body references non-parameter columns: " +
        qualified.map(_.name).distinct.mkString(", "))
    val free = refs.map(_.nameParts.head.toLowerCase).toSet
    val unknown = free -- paramSet
    require(unknown.isEmpty,
      s"macro $name body references non-parameter columns: " +
        unknown.mkString(", "))

    // Hive evaluates macro arguments once (GenericUDFMacro receives
    // evaluated values); a parameter used twice must therefore not
    // re-evaluate its argument. Multi-occurrence parameters go through a
    // With/CommonExpressionDef binding (evaluate-once, like Spark's own
    // NullIf); single occurrences substitute directly.
    val occurrences: Map[String, Int] = refs
      .filter(a => paramSet.contains(a.nameParts.head.toLowerCase))
      .groupBy(_.nameParts.head.toLowerCase).map { case (p, as) => p -> as.length }

    // a qualified reference whose head is a parameter substitutes the
    // parameter and re-applies the remaining parts as field extraction
    def substitute(sub: Map[String, Expression]): Expression =
      body.transformUp {
        case a: UnresolvedAttribute if sub.contains(a.nameParts.head.toLowerCase) =>
          a.nameParts.tail.foldLeft(sub(a.nameParts.head.toLowerCase)) {
            (e, part) => UnresolvedExtractValue(e, Literal(part))
          }
      }

    val arity = typed.length
    val builder: Seq[Expression] => Expression = { args =>
      require(args.length == arity,
        s"macro $name expects $arity arguments, got ${args.length}")
      val casted = typed.zip(args).map { case ((p, dt), a) => p -> Cast(a, dt) }
      val multi = casted.filter { case (p, _) => occurrences.getOrElse(p, 0) > 1 }
      if (multi.isEmpty) substitute(casted.toMap)
      else With(multi.map(_._2): _*) { commonRefs =>
        val bound = multi.map(_._1).zip(commonRefs).toMap
        substitute(casted.toMap ++ bound)
      }
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
  }

  /** DROP TEMPORARY MACRO name. Returns whether it existed. */
  def drop(spark: SparkSession, name: String): Boolean =
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))

  // parameter list may contain parameterized types — decimal(12,2),
  // varchar(10) — so the capture allows one paren-nesting level
  private val CreateRe =
    """(?is)\s*CREATE\s+TEMPORARY\s+MACRO\s+(\w+)\s*\(((?:[^()]|\([^()]*\))*)\)\s*(.+)""".r
  private val DropRe =
    """(?is)\s*DROP\s+TEMPORARY\s+MACRO\s+(IF\s+EXISTS\s+)?(\w+)\s*""".r

  /** Front-door for the Hive statement forms themselves (Spark's parser does
    * not accept them): `CREATE TEMPORARY MACRO name(a TYPE, b TYPE) body`
    * and `DROP TEMPORARY MACRO [IF EXISTS] name`. */
  def sql(spark: SparkSession, stmt: String): Unit = stmt match {
    case CreateRe(name, paramList, body) =>
      // type syntax nests <…>: `m MAP<STRING,INT>, s STRUCT<a:INT,b:STRING>`
      val decls = graft.HiveQlText(paramList).split(',', types = true)
      val params = decls.map { decl =>
        val parts = decl.split("\\s+", 2)
        require(parts.length == 2,
          s"macro parameter needs 'name TYPE', got '$decl'")
        (parts(0), parts(1))
      }
      create(spark, name, params, body)
    case DropRe(ifExists, name) =>
      val existed = drop(spark, name)
      // Hive errors on dropping a missing macro unless IF EXISTS
      if (!existed && ifExists == null)
        throw new IllegalArgumentException(s"macro $name does not exist")
    case other =>
      throw new IllegalArgumentException(s"not a macro statement: $other")
  }
}
