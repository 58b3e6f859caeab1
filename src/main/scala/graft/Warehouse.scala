package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog/DDL/writer surface — the engine-visible remainder of Hive's
  * Driver/DDLTask/MoveTask/FileSinkOperator stack (SURVEY §3): partitioned
  * and bucketed table management, INSERT OVERWRITE with dynamic partitions,
  * multi-insert, and partition-granular UPDATE/DELETE rewrites standing in
  * for ACID row mutation (SURVEY §7 "genuinely hard").
  *
  * References: FileSinkOperator (ql/exec/FileSinkOperator.java:1, dynamic
  * partitions + bucketed files), DDLTask (ql/exec/DDLTask.java),
  * SemanticAnalyzer.genFileSinkPlan (parse/SemanticAnalyzer.java:6241,
  * multi-insert), UPDATE/DELETE grammar (parse/HiveParser.g:2390-2413).
  */
object Warehouse {

  /** DROP TABLE IF EXISTS + remove its warehouse location. The session
    * catalog is per-JVM while warehouse directories persist, so a plain
    * DROP in a fresh session leaves an orphan location that blocks
    * re-creation (LOCATION_ALREADY_EXISTS). */
  def dropTable(spark: SparkSession, table: String): Unit = {
    // Resolve the real location from the catalog while the table still
    // exists — deriving it from the name breaks for qualified "db.t"
    // (location is <warehouse>/db.db/t, not <warehouse>/db.t).
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    // EXTERNAL tables keep their data on DROP (Hive semantics) — only
    // MANAGED locations may be removed.
    val loc: Option[java.io.File] =
      if (catalog.tableExists(ident)) {
        val meta = catalog.getTableMetadata(ident)
        if (meta.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
          return { spark.sql(s"DROP TABLE IF EXISTS $table"); () }
        Some(new java.io.File(meta.location.getPath))
      } else None
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val dir = loc.getOrElse {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val base = ident.database.filter(_ != "default")
        .map(db => new java.io.File(warehouse, db + ".db"))
        .getOrElse(new java.io.File(warehouse))
      new java.io.File(base, ident.table.toLowerCase)
    }
    if (dir.exists()) {
      import scala.reflect.io.Directory
      new Directory(dir).deleteRecursively()
    }
  }

  /** CREATE TABLE ... PARTITIONED BY ... [CLUSTERED BY ... INTO n BUCKETS]
    * backed by parquet, loaded from a DataFrame. */
  def createTable(
      df: DataFrame,
      table: String,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None,
      sortBy: Seq[String] = Nil,
      overwrite: Boolean = true): Unit = {
    var w = df.write.format("parquet")
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    bucketBy.foreach { case (n, cols) =>
      w = w.bucketBy(n, cols.head, cols.tail: _*)
      if (sortBy.nonEmpty) w = w.sortBy(sortBy.head, sortBy.tail: _*)
    }
    w.saveAsTable(table)
  }

  /** INSERT OVERWRITE with dynamic partitioning: only the partitions
    * present in `df` are replaced (Hive's nonstrict dynamic partition
    * overwrite), others untouched. */
  def insertOverwriteDynamic(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try align(spark, table, df).write.mode(SaveMode.Overwrite).insertInto(table)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  /** INSERT INTO append. */
  def insertInto(df: DataFrame, table: String): Unit =
    align(df.sparkSession, table, df).write.mode(SaveMode.Append).insertInto(table)

  /** insertInto is positional; re-order df columns to the table schema
    * (joins with USING-columns move join keys to the front). */
  private def align(spark: SparkSession, table: String, df: DataFrame): DataFrame =
    df.select(spark.table(table).columns.map(col): _*)

  /** Hive multi-insert (`FROM src INSERT ... INSERT ...`): N destinations
    * fed from one cached pass over the source
    * (SemanticAnalyzer.java:6241 genFileSinkPlan with multiple dests). */
  def multiInsert(
      source: DataFrame,
      dests: Seq[(String, DataFrame => DataFrame)]): Unit = {
    WorkingSet.using(source) {
      dests.foreach { case (table, f) => insertInto(f(source), table) }
    }
  }

  /** UPDATE table SET col=expr, ... WHERE cond — implemented as a
    * partition-granular INSERT OVERWRITE rewrite: rows matching `where`
    * get `sets` applied; when the table is partitioned only affected
    * partitions are rewritten (dynamic overwrite). The reference restricts
    * UPDATE to bucketed ORC ACID tables and rewrites deltas
    * (ql/io/orc/OrcRecordUpdater.java); same observable semantics. */
  def update(spark: SparkSession, table: String,
      sets: Map[String, String], where: String): Unit = {
    val partCols = partitionColumns(spark, table)
    // Hive rejects SET on a partition column (SemanticAnalyzer
    // updateDelete checks); allowing it here would move rows between
    // partitions while the touched-partition semi-join still keys on
    // pre-update values — silently losing the moved rows.
    val moved = sets.keySet.map(_.toLowerCase).intersect(partCols.map(_.toLowerCase).toSet)
    require(moved.isEmpty,
      s"UPDATE cannot set partition column(s) ${moved.mkString(", ")} of $table")
    val current = spark.table(table)
    val setsLower = sets.map { case (c, e) => c.toLowerCase -> e }
    val unknown = setsLower.keySet.diff(current.columns.map(_.toLowerCase).toSet)
    require(unknown.isEmpty,
      s"UPDATE SET references column(s) ${unknown.mkString(", ")} not in $table")
    // single projection: every SET expression AND the predicate evaluate
    // against the PRE-update row (SQL simultaneous-assignment semantics —
    // sequential withColumn would let `SET a = b, b = a` see the new `a`)
    val updated = current.select(current.columns.map { c =>
      setsLower.get(c.toLowerCase) match {
        case Some(e) => when(expr(where), expr(e)).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }: _*)
    if (partCols.isEmpty) {
      overwriteUnpartitioned(spark, table, updated)
    } else {
      // rewrite only partitions containing matched rows
      val touched = current.filter(expr(where)).select(partCols.map(col): _*).distinct()
      val replacement = semiJoinOnPartitions(updated, touched, partCols)
      insertOverwriteDynamic(spark, table, replacement)
    }
  }

  /** Left-semi restrict `df` to the partitions in `touched`, NULL-SAFE:
    * a plain equi-join would never match the NULL partition
    * (__HIVE_DEFAULT_PARTITION__), silently exempting its rows from
    * UPDATE/DELETE rewrites. */
  private def semiJoinOnPartitions(df: DataFrame, touched: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val renamed = touched.select(
      partCols.map(c => col(c).as(s"_t_$c")): _*)
    val cond = partCols.map(c => col(c) <=> col(s"_t_$c")).reduce(_ && _)
    df.join(broadcast(renamed), cond, "left_semi")
  }

  /** DELETE FROM table WHERE cond — same partition-granular rewrite.
    * Only rows where the predicate is TRUE are removed; a NULL predicate
    * keeps the row (SQL three-valued semantics — `not(where)` alone would
    * drop NULL-predicate rows). */
  def delete(spark: SparkSession, table: String, where: String): Unit = {
    val partCols = partitionColumns(spark, table)
    val current = spark.table(table)
    val keep = coalesce(expr(where), lit(false)) === lit(false)
    if (partCols.isEmpty) {
      overwriteUnpartitioned(spark, table, current.filter(keep))
    } else {
      val touched = current.filter(expr(where)).select(partCols.map(col): _*).distinct()
      val replacement = semiJoinOnPartitions(current, touched, partCols)
        .filter(keep)
      // dynamic overwrite only rewrites partitions PRESENT in the data:
      // a touched partition whose rows are all deleted contributes no
      // rows and would silently keep its old files — drop those
      // explicitly. Both partition sets are computed BEFORE the
      // overwrite (afterwards the stale partition still looks populated).
      val touchedRows = touched.collect()
      val expected = replacement
        .select(partCols.map(col): _*).distinct().collect().toSet
      insertOverwriteDynamic(spark, table, replacement)
      dropEmptiedPartitions(spark, table, partCols, touchedRows, expected)
    }
  }

  /** Drop touched partitions that ended up with no rows after a rewrite
    * (dynamic overwrite never touches a partition absent from the data,
    * so an emptied one would silently keep its old files). Catalog API,
    * not rendered SQL: literal rendering breaks on NULL values, dates,
    * and backslash escapes. Both row sets must be computed BEFORE the
    * overwrite. */
  private def dropEmptiedPartitions(spark: SparkSession, table: String,
      partCols: Seq[String],
      touchedRows: Array[org.apache.spark.sql.Row],
      expected: Set[org.apache.spark.sql.Row]): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    touchedRows.filterNot(expected).foreach { p =>
      val spec: Map[String, String] = partCols.zipWithIndex.map {
        case (c, i) =>
          c -> (if (p.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
                else p.get(i).toString)
      }.toMap
      spark.sessionState.catalog.dropPartitions(ident, Seq(spec),
        ignoreIfNotExists = true, purge = false, retainData = false)
    }
  }

  sealed trait MatchedClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET sets */
  final case class MatchedUpdate(cond: Option[String],
      sets: Map[String, String]) extends MatchedClause
  /** WHEN MATCHED [AND cond] THEN DELETE */
  final case class MatchedDelete(cond: Option[String]) extends MatchedClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT VALUES (exprs) */
  final case class NotMatchedInsert(cond: Option[String],
      values: Seq[String])

  /** MERGE INTO — Hive grammar arrives in 2.2
    * (MergeSemanticAnalyzer upstream; the 1.2 reference stops at
    * UPDATE/DELETE, SURVEY §2.9), re-expressed as the standard
    * three-branch rewrite: matched pairs transform per the first
    * matching WHEN clause (listed order wins, Hive semantics), unmatched
    * target rows pass through, NOT MATCHED source rows insert. Hive's
    * cardinality check is enforced: a target row matching more than one
    * source row aborts the merge.
    *
    * Scale shape: when the ON condition is an equi-predicate all three
    * branches plan as hash joins on the merge key (inner + two
    * left-antis over the same shuffle); partitioned targets rewrite only
    * partitions holding matched or inserted rows, and partitions emptied
    * by DELETE clauses are dropped (the `delete` discipline). */
  def merge(
      spark: SparkSession, table: String, targetAlias: String,
      source: DataFrame, sourceAlias: String, on: String,
      matched: Seq[MatchedClause],
      notMatched: Option[NotMatchedInsert]): Unit = {
    require(matched.nonEmpty || notMatched.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val partCols = partitionColumns(spark, table)
    val tCols = spark.table(table).columns.toSeq
    matched.collect { case MatchedUpdate(_, sets) =>
      val setPart = sets.keySet.map(_.toLowerCase)
        .intersect(partCols.map(_.toLowerCase).toSet)
      require(setPart.isEmpty,
        s"MERGE UPDATE cannot set partition column(s) ${setPart.mkString(", ")}")
      val unknown = sets.keySet.map(_.toLowerCase)
        .diff(tCols.map(_.toLowerCase).toSet)
      require(unknown.isEmpty,
        s"MERGE UPDATE references unknown column(s) ${unknown.mkString(", ")}")
    }
    notMatched.foreach(ins => require(ins.values.size == tCols.size,
      s"MERGE INSERT VALUES arity ${ins.values.size} != ${tCols.size} " +
        s"columns of $table"))

    val t = spark.table(table).alias(targetAlias)
    val s = source.alias(sourceAlias)
    val onExpr = expr(on)
    // persisted: the cardinality check, the touched-partition collect and
    // the final write all read the matched pairs — without this the
    // dominant join re-executes per action (and a nondeterministic
    // source could pass the check yet write different rows)
    val joined = t.join(s, onExpr, "inner")
    WorkingSet.using(joined) {
      val tKey = struct(tCols.map(c => col(s"$targetAlias.$c")): _*)

      // Hive cardinality check: joined-count per target-row-value exceeding
      // the target's own duplicate count means >1 source match per row
      val tCounts = t.groupBy(tKey.as("k")).agg(count(lit(1)).as("tn"))
      val jCounts = joined.groupBy(tKey.as("k")).agg(count(lit(1)).as("jn"))
      val violations = jCounts.join(tCounts, col("jn") =!= col("tn") &&
        jCounts("k") <=> tCounts("k")).limit(1).count()
      require(violations == 0,
        s"MERGE cardinality violation: a row of $table matches more than " +
          "one source row")

      // first listed WHEN MATCHED clause whose condition holds applies
      val outcome = matched.zipWithIndex.foldRight(lit(0)) {
        case ((cl, i), els) =>
          val c = cl match {
            case MatchedUpdate(cond, _) => cond
            case MatchedDelete(cond)    => cond
          }
          when(c.map(expr).getOrElse(lit(true)), lit(i + 1)).otherwise(els)
      }
      val deleteIdx = matched.zipWithIndex.collect {
        case (MatchedDelete(_), i) => i + 1
      }
      val transformed = joined
        .withColumn("__out", outcome)
        .filter(deleteIdx.foldLeft(lit(true))(
          (acc, i) => acc && col("__out") =!= i))
        .select(tCols.map { c =>
          matched.zipWithIndex.foldLeft(col(s"$targetAlias.$c")) {
            case (els, (MatchedUpdate(_, sets), i)) =>
              sets.collectFirst {
                case (sc, e) if sc.equalsIgnoreCase(c) ||
                  sc.equalsIgnoreCase(s"$targetAlias.$c") => e
              } match {
                case Some(e) => when(col("__out") === i + 1, expr(e))
                  .otherwise(els)
                case None => els
              }
            case (els, _) => els
          }.as(c)
        }: _*)

      val unmatchedT = t.join(s, onExpr, "left_anti")
        .select(tCols.map(c => col(s"$targetAlias.$c").as(c)): _*)
      val inserts = notMatched.map { ins =>
        val base = s.join(t, onExpr, "left_anti")
        ins.cond.map(c => base.filter(expr(c))).getOrElse(base)
          .select(ins.values.zip(tCols).map {
            case (e, c) => expr(e).as(c)
          }: _*)
      }

      if (partCols.isEmpty) {
        val next = (Seq(unmatchedT, transformed) ++ inserts)
          .map(df => df.select(tCols.map(col): _*))
          .reduce(_.unionByName(_))
        overwriteUnpartitioned(spark, table, next)
      } else {
        // rewrite only partitions holding matched target rows or inserts;
        // untouched partitions keep their files
        val touched = joined
          .select(partCols.map(c => col(s"$targetAlias.$c").as(c)): _*)
          .unionByName(inserts.map(_.select(partCols.map(col): _*))
            .getOrElse(spark.emptyDataFrame
              .select(partCols.map(c => lit(null).as(c)): _*).limit(0)))
          .distinct()
        val replacement = (Seq(
          semiJoinOnPartitions(unmatchedT, touched, partCols),
          transformed) ++ inserts)
          .map(df => df.select(tCols.map(col): _*))
          .reduce(_.unionByName(_))
        WorkingSet.using(replacement) {
          val touchedRows = touched.collect()
          val expected = replacement
            .select(partCols.map(col): _*).distinct().collect().toSet
          insertOverwriteDynamic(spark, table, replacement)
          dropEmptiedPartitions(spark, table, partCols, touchedRows, expected)
        }
      }
    }
  }

  /** Size-aware small-file compaction — ALTER TABLE ... CONCATENATE
    * (ql/parse/DDLSemanticAnalyzer mergeFiles) upgraded from "pick a
    * file count" to "hit a target file size". Partitioned tables compact
    * each partition directory independently (only directories whose file
    * count can shrink are rewritten); unpartitioned tables go through
    * the staged self-overwrite. Streaming ingest + micro-batches make
    * small files the default failure mode at scale; a target-size
    * compactor is the maintenance loop's primitive.
    *
    * Like `startUpsert`, the partitioned rewrite is NOT ACID: the
    * compacted replacements are moved into the partition directory
    * BEFORE the originals are deleted, so a crash mid-compaction
    * leaves a recoverable superset (original + compacted copies —
    * fix by deleting either generation), never a data loss. Readers
    * scanning the partition inside that window can observe rows
    * twice; run compaction when the partition is quiescent. */
  def compact(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    def targetFiles(files: Array[java.io.File]): Int =
      math.max(1, math.ceil(
        files.map(_.length).sum.toDouble / targetBytes).toInt)
    val partCols = partitionColumns(spark, table)
    if (partCols.isEmpty) {
      val files = dataFiles(tableLocation(spark, table))
      val n = targetFiles(files)
      if (files.length > n)
        overwriteUnpartitioned(spark, table,
          spark.table(table).coalesce(n))
    } else {
      // per-partition directories: plain parquet files without the
      // partition columns — rewrite each oversized directory in place
      def partDirs(dir: java.io.File): Seq[java.io.File] = {
        val subs = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.contains("="))
        subs.flatMap(s => if (partDirs(s).isEmpty) Seq(s) else partDirs(s))
          .toSeq
      }
      partDirs(tableLocation(spark, table)).foreach { dir =>
        val files = dataFiles(dir)
        val n = targetFiles(files)
        if (files.length > n) {
          val tmp = java.nio.file.Files.createTempDirectory("graft-compact")
          try {
            spark.read.parquet(dir.toString).coalesce(n)
              .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
            // move the replacements in FIRST (their UUID names cannot
            // collide with the live files), delete originals only once
            // every new file landed — a crash or failed cross-device
            // move then leaves original+compacted (recoverable
            // superset) instead of a window with neither
            dataFiles(tmp.toFile).foreach { f =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(dir, f.getName).toPath)
            }
            files.foreach(_.delete())
          } finally {
            import scala.reflect.io.Directory
            new Directory(tmp.toFile).deleteRecursively()
          }
        }
      }
      spark.sql(s"REFRESH TABLE $table")
    }
  }

  private[graft] def overwriteUnpartitioned(spark: SparkSession, table: String,
      replacement: DataFrame): Unit = {
    // stage to a scratch location first: the rewrite reads the same files
    // it is about to replace (Spark rejects direct self-overwrite).
    // Columns are aligned to the table schema — insertInto is positional,
    // and callers (e.g. the upsert merge) may carry a reordered frame.
    val tmp = java.nio.file.Files.createTempDirectory("graft-rewrite")
    try {
      align(spark, table, replacement)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      spark.read.parquet(tmp.toString)
        .write.mode(SaveMode.Overwrite).insertInto(table)
      // the partitioned rewrite path refreshes after its file moves; the
      // unpartitioned overwrite needs the same, or a reader that cached
      // the old file listing hits FILE_NOT_EXIST on its next scan
      spark.sql(s"REFRESH TABLE $table")
    } finally {
      // the staged copy is a full table snapshot — never orphan it (a
      // per-batch streaming upsert would fill the disk)
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  def partitionColumns(spark: SparkSession, table: String): Seq[String] =
    spark.catalog.listColumns(table).collect()
      .filter(_.isPartition).map(_.name).toSeq

  /** ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS (StatsTask /
    * ColumnStatsTask equivalent; feeds Catalyst CBO). */
  def analyze(spark: SparkSession, table: String): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  private def tableLocation(spark: SparkSession, table: String): java.io.File = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    new java.io.File(
      spark.sessionState.catalog.getTableMetadata(ident).location.getPath)
  }

  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  /** LOAD DATA INPATH 'src' [OVERWRITE] INTO TABLE t [PARTITION (...)] —
    * Hive's file-MOVE ingestion (ql/exec/MoveTask.java, grammar
    * HiveParser.g loadStatement): files are moved into the table (or
    * partition) location WITHOUT being parsed or rewritten, so they must
    * already be in the table's storage format; for a partition load they
    * must not contain the partition columns (values come from the
    * directory, Hive semantics). `src` may be a file or a directory of
    * files (hidden/_ files skipped). */
  def loadData(
      spark: SparkSession,
      src: String,
      table: String,
      overwrite: Boolean = false,
      partition: Seq[(String, String)] = Nil,
      move: Boolean = true): Unit = {
    // files moved to the root of a catalog-partitioned table are invisible
    // to every query — reject like Hive ("need to specify partition columns")
    // instead of silently dropping the data
    val partCols = partitionColumns(spark, table)
    require(partCols.isEmpty || partition.nonEmpty,
      s"LOAD DATA into partitioned table $table needs a PARTITION " +
        s"(${partCols.mkString(", ")}) spec")
    require(partCols.nonEmpty || partition.isEmpty,
      s"LOAD DATA: $table is not partitioned but a PARTITION spec was given")
    // validate the spec BEFORE touching any files (a move-then-fail would
    // strand the user's data), and normalize key order to the table's
    // partition columns — Hive accepts PARTITION (mo=..., yr=...) for a
    // table partitioned by (yr, mo), but the directory must be yr=/mo=
    val specByKey = partition.map { case (k, v) => k.toLowerCase -> v }.toMap
    require(specByKey.size == partition.size,
      s"LOAD DATA: duplicate PARTITION key in (${partition.map(_._1).mkString(", ")})")
    require(specByKey.keySet == partCols.map(_.toLowerCase).toSet,
      s"LOAD DATA PARTITION (${partition.map(_._1).mkString(", ")}) must " +
        s"name exactly the partition columns (${partCols.mkString(", ")}) of $table")
    val ordered = partCols.map(pc => pc -> specByKey(pc.toLowerCase))
    val dest = ordered.foldLeft(tableLocation(spark, table)) {
      case (d, (k, v)) => new java.io.File(d, s"$k=$v")
    }
    dest.mkdirs()
    if (overwrite) dataFiles(dest).foreach(_.delete())
    val srcFile = new java.io.File(src)
    val files = if (srcFile.isDirectory) dataFiles(srcFile) else Array(srcFile)
    files.foreach { f =>
      val t = new java.io.File(dest, f.getName).toPath
      if (move)
        java.nio.file.Files.move(f.toPath, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else
        java.nio.file.Files.copy(f.toPath, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    if (ordered.nonEmpty) {
      val spec = ordered.map { case (k, v) => s"$k='$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS PARTITION ($spec)")
    }
    spark.sql(s"REFRESH TABLE $table")
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val rel = from.relativize(p)
      val t = to.resolve(rel)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else if (!p.getFileName.toString.startsWith("_") &&
               !p.getFileName.toString.startsWith("."))
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** EXPORT TABLE t TO 'path' — data files plus a _metadata descriptor
    * (schema / partition columns / bucket spec), the Hive EXPORT layout
    * (ql/parse/ExportSemanticAnalyzer.java: _metadata + data/ subdir).
    * File-level copy; nothing is decoded or rewritten. */
  /** EXPORT/IMPORT paths may be URIs; only the local filesystem is
    * backed here. Any other scheme is rejected with Hadoop's own
    * message — the reference's clientnegative exim fake-URI scripts
    * (`nosuchschema://nosuchauthority/...`) pin the rejection; treating
    * such a URI as a relative file path would silently create a
    * literal `nosuchschema:` directory under the CWD. */
  private def resolveFsPath(path: String): String = {
    val uriRe = """^([A-Za-z][A-Za-z0-9+.\-]*)://([^/]*)(/.*)?$""".r
    path match {
      case uriRe(scheme, _, rest) =>
        if (!scheme.equalsIgnoreCase("file"))
          throw new IllegalArgumentException(
            s"No FileSystem for scheme: $scheme")
        Option(rest).getOrElse("/")
      case p if p.startsWith("file:") => p.stripPrefix("file:")
      case p => p
    }
  }

  def exportTable(spark: SparkSession, table: String, path: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val out = new java.io.File(resolveFsPath(path))
    // Hive refuses a non-empty export target; an overwrite-merge would
    // silently union stale part files (different UUID names) into the
    // export, so strictness is the only safe semantics
    if (out.exists())
      require(out.isDirectory && Option(out.list()).exists(_.isEmpty),
        s"EXPORT target $path already exists and is not empty")
    out.mkdirs()
    val bucketLine = meta.bucketSpec
      .map(b => s"${b.numBuckets}|${b.bucketColumnNames.mkString(",")}")
      .getOrElse("")
    // for datasource tables the provider line alone recreates the right
    // reader; for Hive-serde tables ("hive") the FORMAT is the
    // load-bearing part — record the input format class too, or IMPORT
    // would recreate with the default TEXTFILE serde and misread the files
    val providerLine = meta.provider.getOrElse("parquet") match {
      case "hive" =>
        "hive:" + meta.storage.inputFormat.getOrElse("")
      case p => p
    }
    java.nio.file.Files.write(
      new java.io.File(out, "_metadata").toPath,
      java.util.Arrays.asList(
        meta.schema.json,
        meta.partitionColumnNames.mkString(","),
        bucketLine,
        providerLine))
    copyTree(new java.io.File(meta.location.getPath).toPath,
      new java.io.File(out, "data").toPath)
  }

  /** IMPORT TABLE t FROM 'path' — recreate the table from an export:
    * CREATE TABLE from the descriptor, file-copy the data into its
    * location, then MSCK-register any partitions
    * (ql/parse/ImportSemanticAnalyzer.java). */
  def importTable(spark: SparkSession, table: String, path0: String): Unit = {
    val path = resolveFsPath(path0)
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(path, "_metadata").toPath)
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines.get(0))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val partCols = lines.get(1).split(",").filter(_.nonEmpty).toSeq
    val bucket = Option(lines.get(2)).filter(_.nonEmpty).map { b =>
      val Array(n, cols) = b.split("\\|", 2)
      (n.toInt, cols.split(",").toSeq)
    }
    // the descriptor records the source provider — recreating an ORC
    // export USING parquet would make every read throw on the copied files
    val provider =
      if (lines.size() > 3 && lines.get(3).nonEmpty) lines.get(3) else "parquet"
    val partClause =
      if (partCols.isEmpty) "" else s" PARTITIONED BY (${partCols.mkString(", ")})"
    val bucketClause = bucket.map { case (n, cols) =>
      s" CLUSTERED BY (${cols.mkString(", ")}) INTO $n BUCKETS"
    }.getOrElse("")
    // Hive-serde descriptors carry the input format ("hive:<class>");
    // recreate STORED AS that format — USING hive alone would default to
    // TEXTFILE and misread the copied files. Unknown formats are refused
    // rather than silently corrupted.
    val storageClause =
      if (!provider.startsWith("hive:")) s"USING $provider"
      else {
        val fmt = provider.stripPrefix("hive:")
        val storedAs = Map(
          "orc" -> "ORC", "parquet" -> "PARQUET", "text" -> "TEXTFILE",
          "sequencefile" -> "SEQUENCEFILE", "avro" -> "AVRO",
          "rcfile" -> "RCFILE"
        ).collectFirst {
          case (needle, kw) if fmt.toLowerCase.contains(needle) => kw
        }
        require(storedAs.isDefined,
          s"IMPORT: unsupported Hive storage format in descriptor: $fmt")
        s"STORED AS ${storedAs.get}"
      }
    spark.sql(s"CREATE TABLE $table (${schema.toDDL}) $storageClause" +
      partClause + bucketClause)
    copyTree(new java.io.File(path, "data").toPath,
      tableLocation(spark, table).toPath)
    if (partCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $table")
    spark.sql(s"REFRESH TABLE $table")
  }

  /** ALTER TABLE dest EXCHANGE PARTITION (spec) WITH TABLE src — move
    * the matching partitions' files and registrations from src to dest
    * (ref ql/parse/DDLSemanticAnalyzer.java
    * analyzeExchangePartition + Hive.exchangeTablePartitions). This is a
    * METADATA-plus-rename operation — no rows are read or rewritten, so
    * it stays O(partitions) at any data scale (the whole point of the
    * statement for re-homing staging partitions into prod tables).
    * Validations mirror the reference: both tables exist, identical
    * data/partition schemas, the spec is a PREFIX of the partition
    * columns (a gap like hr-without-ds is rejected), at least one
    * matching partition exists in src, and none exists in dest. */
  def exchangePartition(spark: SparkSession, destTable: String,
      spec: Seq[(String, String)], srcTable: String): Unit = {
    val cat = spark.sessionState.catalog
    def identOf(t: String) =
      spark.sessionState.sqlParser.parseTableIdentifier(t)
    def metaOf(t: String) =
      try cat.getTableMetadata(identOf(t))
      catch { case _: Exception =>
        throw new IllegalArgumentException(s"Table $t does not exist")
      }
    val destMeta = metaOf(destTable)
    val srcMeta = metaOf(srcTable)
    def sig(m: org.apache.spark.sql.catalyst.catalog.CatalogTable) =
      (m.schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq,
        m.partitionColumnNames.map(_.toLowerCase))
    if (sig(destMeta) != sig(srcMeta))
      throw new IllegalArgumentException(
        s"Tables have incompatible schemas and their partitions cannot " +
          "be exchanged")
    val partCols = destMeta.partitionColumnNames.map(_.toLowerCase)
    val specMap = spec.map { case (k, v) => k.toLowerCase -> v }.toMap
    // the spec must cover a PREFIX of the partition columns
    // (clientnegative exchange_partition_neg_incomplete_partition)
    val prefixLen = partCols.takeWhile(specMap.contains).length
    if (prefixLen != specMap.size || prefixLen == 0)
      throw new IllegalArgumentException(
        "Alter table partition type exchange partition spec is " +
          s"incomplete: (${spec.map(p => s"${p._1}='${p._2}'").mkString(", ")})")
    def matching(t: String) =
      cat.listPartitions(identOf(t), Some(specMap)).sortBy(_.spec.toString)
    val srcParts = matching(srcTable)
    if (srcParts.isEmpty)
      throw new IllegalArgumentException(
        s"No partition of $srcTable matches the specification")
    val destHit = matching(destTable)
    if (destHit.nonEmpty)
      throw new IllegalArgumentException(
        s"The partition already exists in table $destTable: " +
          destHit.head.spec.toString)
    // ADVICE r13: (a) escape quotes in the generated spec SQL, (b) move
    // files to the location the catalog REGISTERS (Spark URL-escapes
    // special chars in partition paths — a hand-joined `k=v` dir would
    // strand the files), (c) register all dest partitions before any
    // file move so a mid-loop failure cannot leave files moved with no
    // metadata trail.
    def specSqlOf(p: org.apache.spark.sql.catalyst.catalog.CatalogTablePartition) = {
      val fullSpec = partCols.map(c => c -> p.spec(
        p.spec.keys.find(_.equalsIgnoreCase(c)).get))
      fullSpec.map { case (k, v) =>
        s"`$k`='${v.replace("\\", "\\\\").replace("'", "\\'")}'"
      }.mkString(", ")
    }
    srcParts.foreach { p =>
      spark.sql(s"ALTER TABLE $destTable ADD PARTITION (${specSqlOf(p)})")
    }
    srcParts.foreach { p =>
      val from = new java.io.File(p.location.getPath)
      val destPart = cat.getPartition(identOf(destTable),
        partCols.map(c => c -> p.spec(
          p.spec.keys.find(_.equalsIgnoreCase(c)).get)).toMap)
      val to = new java.io.File(destPart.location.getPath)
      to.getParentFile.mkdirs()
      if (from.exists() && !from.renameTo(to)) {
        copyTree(from.toPath, to.toPath)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(from)
      }
      spark.sql(s"ALTER TABLE $srcTable DROP PARTITION (${specSqlOf(p)})")
    }
    spark.sql(s"REFRESH TABLE $destTable")
    spark.sql(s"REFRESH TABLE $srcTable")
  }
}
