package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ACID delta-file table layout + compactor, re-expressed Spark-first.
  *
  * Directory contract mirrors the reference's `ql/io/AcidUtils.java:60-126`:
  * a table directory holds `base_%07d` (rows compacted through that write
  * id) and `delta_%07d_%07d` (the events of write ids min..max); names
  * starting with `.` or `_` are invisible to readers
  * (`AcidUtils.hiddenFileFilter`), which is what makes staged writes
  * crash-safe here — every writer stages into `_tmp_<target>` inside the
  * table dir and atomically renames to the final name, so a crash leaves
  * only an ignored temp dir, never a half-visible delta.
  *
  * Event rows use the ACID event schema of
  * `ql/io/orc/OrcRecordUpdater.java:204-224` — (operation,
  * originalTransaction, bucket, rowId, currentTransaction, row) with
  * operation 0=insert / 1=update / 2=delete — stored as parquet instead of
  * ORC (the engine's native columnar format; same information, including
  * predicate pushdown on the id columns). A row's identity is
  * (originalTransaction, bucket, rowId), assigned at insert and carried
  * unchanged by every later update/delete of that row, exactly as
  * `OrcRecordUpdater.update/delete` reuse the original RecordIdentifier.
  *
  * Snapshot semantics (`AcidUtils.getAcidState`, `OrcRawRecordMerger`):
  * pick the highest base, then the non-subsumed deltas above it, and for
  * each row identity let the event with the highest currentTransaction
  * win; a winning delete removes the row. The reference merges each
  * base bucket with the delta events as sorted ORC streams, so a read
  * costs one scan plus the delta events. Here (`resolve`) base and
  * original rows pass through a left anti join against the identities
  * the deltas' update and delete events name, and only the delta
  * events go through the last-event-wins `max_by` aggregate. The
  * census never selects a delta at or below the base, so any delta
  * event outranks the base row with the same identity, and the anti
  * join drops exactly the base rows a delta rewrote. Spark's broadcast
  * threshold picks the join from the delta files' size: below it the
  * base is read without a shuffle, and the shuffled data is the delta
  * events alone; past it the join is a sort-merge join, the cost of a
  * full merge.
  *
  * Why this layout matters vs `Warehouse.update/delete` (the
  * partition-rewrite path): a mutation here writes O(changed rows) — a
  * delete of 100 rows in a 100 TB table writes one tiny delta dir, not a
  * partition rewrite. The compactor then folds deltas back in off the
  * write path: `compactMinor` merges deltas into one (reference
  * `ql/txn/compactor/Worker.java` MINOR), `compactMajor` resolves
  * everything into a new base (MAJOR), `maybeCompact` is the
  * `Initiator.java` heuristic (delta count / delta-to-base size ratio),
  * and `clean` is `Cleaner.java` — obsolete dirs survive until it runs,
  * so in-flight readers holding the old dir list stay consistent.
  *
  * Conversion is IN-PLACE, like the reference: `snapshot` over a plain
  * parquet directory (partitioned or not) treats the loose files as
  * pre-ACID "originals" with synthesized ROW__IDs (originalTransaction
  * 0, bucket = in-directory file index, rowId = `_metadata.row_index`),
  * so an existing non-ACID table starts taking delta mutations with no
  * rewrite; the first major compaction folds the originals into a real
  * base and the Cleaner drops them.
  *
  * Writer coordination: write ids come from `allocateWriteId` — a
  * persistent high-water mark advanced under a SHORT table-root file
  * lock — so concurrent writers always get disjoint ids. Append-only
  * txns publish in parallel after allocation; read-modify-write txns
  * (update/delete/merge) hold the lock for their whole body, standing
  * in for the reference's metastore transaction manager
  * (`DbTxnManager`/TxnHandler write-set checks — service
  * infrastructure out of engine scope, like the HS2 wire protocol).
  *
  * Mutation locks are PARTITION-GRANULAR when the statement pins one
  * partition (the reference's `DbTxnManager` takes SHARED_WRITE on the
  * partition, not the table — `ql/lockmgr/DbTxnManager.java`
  * acquireLocks): `pinnedPartition` reads the WHERE clause and, for a
  * conjunction of equality predicates covering every partition column,
  * scopes the txn to that partition's lock file, so updates/deletes/
  * merges against DISJOINT partitions interleave instead of
  * serializing. The protocol (design note at `partitionScopeTxn`):
  *   - partition writer: table lock { create intent + allocate id } →
  *     partition lock { mutate } → delete intent;
  *   - table-scope RMW: loop { table lock { no live intents → work } }.
  * An "intent" is a marker file under `_txn_part_intents/` naming the
  * partition in flight; it is live while its mtime is fresh or while
  * its partition lock heartbeats (every held lock refreshes its mtime
  * from a heartbeat thread), so a crashed writer's intent goes stale
  * with its lock and is swept — no permanent wedge, same
  * heartbeat-expiry discipline as the reference's TxnHandler timeout.
  * WHERE clauses the parser cannot prove partition-pinning
  * (OR/NOT/parenthesized, partial column cover) fall back to the
  * table-scope lock rather than guessing. AcidSpec proves disjoint
  * partitions interleave and a held partition lock blocks a
  * same-partition writer.
  */
object Acid {

  private val MetaCols = Seq("operation", "originalTransaction", "bucket",
    "rowId", "currentTransaction")
  val InsertOp = 0
  val UpdateOp = 1
  val DeleteOp = 2

  private def deltaName(min: Long, max: Long) = f"delta_$min%07d_$max%07d"
  private def baseName(w: Long) = f"base_$w%07d"

  private[graft] final case class Delta(min: Long, max: Long, dir: File)
  private[graft] final case class State(base: Option[(Long, File)],
      deltas: Seq[Delta], originals: Seq[File])

  private def visible(f: File): Boolean = {
    val n = f.getName
    f.isDirectory && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Pre-ACID "original" data files: loose parquet at the table (or
    * partition) root, as left by a plain non-ACID writer. Listing them in
    * the census is what makes conversion IN-PLACE, like the reference
    * (`AcidUtils.getAcidState` returns `getOriginalFiles`; ROW__IDs for
    * originals are synthesized, `OrcInputFormat.getReader` offset-based):
    * `Acid.snapshot` over an existing parquet directory just works, the
    * first delete/update writes deltas against synthesized ROW__IDs, and
    * the first major compaction folds the originals into a real base. */
  private def originalFile(f: File): Boolean = {
    val n = f.getName
    f.isFile && !n.startsWith(".") && !n.startsWith("_") &&
      n.endsWith(".parquet")
  }

  /** Directory census: highest base + the deltas above it, with subsumed
    * delta ranges (a minor-compacted `delta_1_5` next to not-yet-cleaned
    * `delta_2_2`) dropped so no event is read twice. Mirrors
    * `AcidUtils.getAcidState`. */
  private[graft] def state(path: String): State =
    stateAsOf(path, Long.MaxValue)

  /** Census bounded by a write-id horizon — the reference's
    * ValidWriteIdList snapshot (`AcidUtils.getAcidState` takes one;
    * `ValidReaderWriteIdList` marks ids above the reader's high-water
    * mark invisible). Directory-level selection suffices: every event
    * in `delta_m_n` carries a currentTransaction in [m, n], so
    * excluding dirs with max > asOf excludes exactly the too-new
    * events — no row filtering. A dir STRADDLING the horizon (a
    * compacted delta or base folding writes on both sides) cannot be
    * split; the coverage check below fails loudly when the
    * pre-compaction dirs it subsumed are already cleaned, instead of
    * silently returning a state that never existed. (Cleaner drops a
    * compaction's obsolete deltas and originals in one pass, so while
    * it has NOT run, the pre-compaction dirs are still selectable and
    * old horizons keep working.) */
  private[graft] def stateAsOf(path: String, asOf: Long): State = {
    require(asOf >= 0, s"asOf write id must be non-negative, got $asOf")
    val children = Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(visible)
    val bases = children.collect {
      case f if f.getName.startsWith("base_") =>
        (f.getName.stripPrefix("base_").toLong, f)
    }.sortBy(_._1)
    val base = bases.filter(_._1 <= asOf).lastOption
    val floor = base.map(_._1).getOrElse(0L)
    val allDeltas = children.collect {
      case f if f.getName.startsWith("delta_") =>
        val Array(mn, mx) = f.getName.stripPrefix("delta_").split("_")
        Delta(mn.toLong, mx.toLong, f)
    }
    val eligible = allDeltas.filter(d => d.max > floor && d.max <= asOf)
    // widest-first selection: a delta strictly inside an already-selected
    // range is the pre-compaction original of a merged delta — skip it
    val selected = scala.collection.mutable.ArrayBuffer.empty[Delta]
    eligible.sortBy(d => (d.min, -d.max)).foreach { d =>
      if (!selected.exists(s => s.min <= d.min && d.max <= s.max))
        selected += d
    }
    // any selected base covers the originals (major compaction reads
    // them); with the base excluded as too new, surviving originals are
    // the pre-ACID data again
    val originals =
      if (base.isDefined) Seq.empty
      else Option(new File(path).listFiles()).getOrElse(Array.empty)
        .filter(originalFile).sortBy(_.getName).toSeq
    // coverage: every write id ≤ asOf present in ANY directory must be
    // readable through the selection — a hole means that id's events
    // survive only inside a straddling compacted dir
    val existing = (bases.map { case (b, _) => (1L, b) } ++
      allDeltas.map(d => (d.min, d.max)))
      .map { case (lo, hi) => (lo, math.min(hi, asOf)) }
      .filter { case (lo, hi) => lo <= hi }
    val covered = intervalUnion(
      (if (floor > 0) Seq((1L, floor)) else Seq.empty) ++
        selected.map(d => (d.min, d.max)))
    existing.foreach { case (lo, hi) =>
      val hole = firstUncovered(covered, lo, hi)
      require(hole.isEmpty,
        s"write id ${hole.get} at $path is not readable as of $asOf: its " +
          "events survive only inside a compacted directory " +
          "(history below the horizon was cleaned)")
    }
    State(base, selected.toSeq, originals)
  }

  /** Sorted, disjoint, non-adjacent union of closed write-id ranges. */
  private def intervalUnion(ranges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ranges.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (lo, hi)) if lo <= b + 1 =>
        (a, math.max(b, hi)) :: rest
      case (acc, r) => r :: acc
    }.reverse

  /** Lowest id in [lo, hi] outside `union` (an `intervalUnion` result):
    * O(ranges), independent of how many ids the ranges span. */
  private def firstUncovered(union: Seq[(Long, Long)], lo: Long,
      hi: Long): Option[Long] =
    union.find { case (_, b) => b >= lo } match {
      case Some((a, b)) if a <= lo => if (b >= hi) None else Some(b + 1)
      case _                       => Some(lo)
    }

  // ---- partitioned layout (Hive: each partition dir holds its own
  // base/delta tree; write ids are table-global) ----

  private def isPartitionDir(f: File): Boolean =
    visible(f) && f.getName.contains("=")

  /** Leaf partition directories (`p=v` or nested `p=v/q=u`), each of
    * which is structurally an unpartitioned ACID layout — compaction and
    * cleaning recurse into them unchanged, mirroring the reference's
    * per-partition compaction queue entries. */
  private[graft] def partitionLeaves(path: String): Seq[File] = {
    def walk(dir: File): Seq[File] = {
      val kids = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(isPartitionDir)
      if (kids.isEmpty) Seq(dir)
      else kids.toSeq.flatMap(walk)
    }
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(isPartitionDir).toSeq.flatMap(walk)
  }

  private def isPartitioned(path: String): Boolean =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .exists(isPartitionDir)

  /** Partition column names, derived from the directory layout itself
    * (no metadata file): the `k` of each `k=v` segment on a leaf path. */
  private[graft] def partitionColsOf(path: String): Seq[String] =
    partitionLeaves(path).headOption.map { leaf =>
      new File(path).toPath.relativize(leaf.toPath).iterator()
        .asScala.map(_.toString.split("=", 2)(0)).toSeq
    }.getOrElse(Nil)

  private def ackDirs(path: String): Seq[String] =
    if (isPartitioned(path)) partitionLeaves(path).map(_.toString)
    else Seq(path)

  private[graft] def nextWriteId(path: String): Long =
    ackDirs(path).map { d =>
      val s = state(d)
      (s.base.map(_._1).getOrElse(0L) +: s.deltas.map(_.max)).max
    }.max + 1

  /** Stage-then-rename: parquet lands in `_tmp_<name>` (invisible to
    * readers), one atomic dir rename publishes it. `marker`, when set,
    * is an empty `_`-prefixed file created inside the staged dir BEFORE
    * the rename — it publishes atomically with the data (parquet readers
    * skip `_`/`.` files), which is what makes the streaming sink's
    * batch-id bookkeeping exactly-once without a second commit point. */
  private def writeDir(df: DataFrame, path: String, name: String,
      marker: Option[String] = None): Unit = {
    val tmp = new File(path, s"_tmp_$name")
    df.write.mode("overwrite").parquet(tmp.toString)
    marker.foreach(m => new File(tmp, m).createNewFile())
    Files.move(tmp.toPath, new File(path, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wrap data rows as insert events for write id `w`. Bucket is the
    * writing task's partition id and rowId a per-bucket sequence —
    * the same writer-local assignment as `OrcRecordUpdater.insert`
    * (bucket file + monotonically increasing rowid), so ids are unique
    * without any global coordination and without a shuffle. */
  private[graft] def asInsertEvents(df: DataFrame, w: Long): DataFrame =
    asInsertEventsKeeping(df, w, df.columns.toSeq, Nil)

  /** Write an event frame carrying top-level partition columns into
    * `<partition dir>/<name>` per partition: stage the whole txn with one
    * partitioned write, then rename each staged leaf into place. Renames
    * are atomic per partition; cross-partition atomicity is the txn
    * manager's job in the reference (metastore `DbTxnManager`), which is
    * the same service-infra boundary as single-writer id allocation. */
  private def writeDirPartitioned(events: DataFrame, path: String,
      partCols: Seq[String], name: String,
      marker: Option[String] = None): Unit = {
    val stage = new File(path, s"_tmp_stage_$name")
    events.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(stage.toString)
    def leaves(dir: File, depth: Int): Seq[File] =
      if (depth == 0) Seq(dir)
      else Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(isPartitionDir).toSeq.flatMap(leaves(_, depth - 1))
    try leaves(stage, partCols.size).foreach { staged =>
      val rel = stage.toPath.relativize(staged.toPath)
      val partDir = new File(path, rel.toString)
      partDir.mkdirs()
      marker.foreach(m => new File(staged, m).createNewFile())
      Files.move(staged.toPath, new File(partDir, name).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    } finally {
      import scala.reflect.io.Directory
      new Directory(stage).deleteRecursively()
    }
  }

  /** Route an event frame to the table layout: one dir for
    * unpartitioned, per-partition dirs otherwise. */
  private def publishEvents(events: DataFrame, path: String,
      partCols: Seq[String], name: String,
      marker: Option[String] = None): Unit =
    if (partCols.isEmpty) writeDir(events, path, name, marker)
    else writeDirPartitioned(events, path, partCols, name, marker)

  // -- writer serialization ---------------------------------------------
  // The reference serializes writers through the metastore transaction
  // manager (metastore/src/.../txn/TxnHandler.java: enqueueLock /
  // checkLock over a database row, heartbeat-expired txns aborted by
  // AcidHouseKeeperService). The engine-owned equivalent is a file lock
  // under the table directory: atomic createNewFile is the mutex
  // primitive (works across JVMs on a shared filesystem), the holder id
  // + acquire time live in the file, and a contender may BREAK a lock
  // whose heartbeat is older than the TTL by atomically renaming it
  // aside (the rename is the fence — exactly one contender wins it).
  // Every *Txn method runs its whole read-modify-publish body under the
  // lock, so two racing writers serialize and the loser's snapshot
  // includes the winner's delta. Compaction deliberately does NOT take
  // this lock (reference compactor runs off the write path; its renames
  // are atomic and never clobber a live delta).
  //
  // Fencing caveat, documented honestly: a holder paused longer than the
  // TTL mid-publish can still land its staged rename after being broken
  // — release detects the loss and throws, so the caller knows the table
  // needs a check, but the rename itself is not blocked. The reference
  // has the same exposure between heartbeat expiry and writer death; it
  // hides it by making readers consult the txn table, which is the
  // metastore-service boundary kept out of scope (SURVEY §2).

  private val LockName = "_txn_lock"
  private val lockTimeoutMs: Long =
    sys.props.getOrElse("graft.acid.lock.timeout.ms", "60000").toLong
  private def lockTtlMs: Long =
    sys.props.getOrElse("graft.acid.lock.ttl.ms", "600000").toLong
  // reentrancy: thread id -> canonical paths it holds (mergeTxn inside
  // a front-door MERGE already under the lock must not self-deadlock)
  private val heldLocks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()

  /** Run `f` as the table's only writer. Blocks up to
    * `graft.acid.lock.timeout.ms` (default 60 s) for the lock; breaks
    * stale locks older than `graft.acid.lock.ttl.ms` (default 10 min).
    * Reentrant within a thread. Throws at release if the lock was lost
    * (broken as stale) while `f` ran. */
  def withWriteLock[T](path: String)(f: => T): T = {
    val key = new File(path).getCanonicalPath
    val me = (Thread.currentThread().getId, key)
    if (heldLocks.contains(me)) return f // reentrant
    val id = java.util.UUID.randomUUID().toString
    val lf = new File(path, LockName)
    val deadline = System.nanoTime() + lockTimeoutMs * 1000000L
    var acquired = false
    while (!acquired) {
      new File(path).mkdirs()
      // atomic create-WITH-content: stage id+time to a private name, then
      // hard-link it to the lock name — link(2) fails if the target
      // exists (rename would silently REPLACE it), so exactly one
      // contender lands it and no reader ever observes an empty lock file
      val staged = new File(path, s"_txn_lock_staged_$id")
      val out = new java.io.FileOutputStream(staged)
      try out.write(s"$id ${System.currentTimeMillis()}".getBytes("UTF-8"))
      finally out.close()
      try {
        try Files.createLink(lf.toPath, staged.toPath)
        catch { case _: UnsupportedOperationException =>
          // no hard links on this fs: exclusive-create then write — a
          // reader may briefly see an empty file; holderOf tolerates it
          if (!lf.createNewFile()) throw new java.nio.file.
            FileAlreadyExistsException(lf.getPath)
          Files.write(lf.toPath,
            s"$id ${System.currentTimeMillis()}".getBytes("UTF-8"))
        }
        staged.delete()
        acquired = true
      } catch { case _: java.io.IOException => // lock held
        staged.delete()
        // deadline first: a persistently-failing stale break (e.g.
        // ATOMIC_MOVE unsupported) must still honor the timeout, never
        // busy-spin
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"ACID write lock on $path not acquired within " +
              s"$lockTimeoutMs ms (holder: ${holderOf(lf)})")
        val age = System.currentTimeMillis() - lf.lastModified()
        if (lf.exists() && lf.lastModified() > 0 && age > lockTtlMs) {
          // stale: fence the dead holder by renaming its lock aside —
          // ATOMIC_MOVE means exactly one contender succeeds
          val aside = new File(path, s"_txn_lock_broken_$id")
          try {
            Files.move(lf.toPath, aside.toPath,
              StandardCopyOption.ATOMIC_MOVE)
            aside.delete()
          } catch { case _: java.io.IOException => () } // lost the race
        }
        Thread.sleep(20)
      }
    }
    // heartbeat: refresh the lock mtime while f runs, so a live txn
    // longer than the TTL is not broken as stale (only a DEAD holder's
    // mtime goes stale). Daemon thread; stopped in the release path.
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(1000L, lockTtlMs / 4))
          if (holderOf(lf).contains(id)) lf.setLastModified(System.currentTimeMillis())
        }
      } catch { case _: InterruptedException => () }
    }, s"acid-lock-heartbeat-$id")
    beat.setDaemon(true)
    beat.start()
    heldLocks.add(me)
    try f
    finally {
      heldLocks.remove(me)
      beat.interrupt()
      if (holderOf(lf).contains(id)) lf.delete()
      else throw new IllegalStateException(
        s"ACID write lock on $path was broken as stale while held — " +
          "this txn overran the TTL and may have raced a newer writer")
    }
  }

  private def holderOf(lf: File): Option[String] =
    try {
      if (!lf.exists()) None
      else Some(new String(
        java.nio.file.Files.readAllBytes(lf.toPath), "UTF-8")
        .split(" ").head)
    } catch { case _: java.io.IOException => None }

  /** Allocate the next write id under a SHORT table-root lock. Ids come
    * from max(published census, persistent high-water mark) + 1 and the
    * mark advances before release, so two concurrent writers always get
    * DISJOINT ids even though neither has published yet — which is what
    * lets append-only txns run their publish phase in parallel instead
    * of serializing on the table lock (the reference allocates table
    * write ids the same way, service-side: metastore TxnHandler
    * NEXT_WRITE_ID row, held only for the allocation statement). A
    * writer that crashes after allocation leaves an id gap; gaps are
    * fine — the census reads published directories only. */
  private def allocateWriteId(path: String): Long = withWriteLock(path) {
    val hwm = new File(path, "_write_id_hwm")
    val prev =
      try {
        if (hwm.exists)
          new String(Files.readAllBytes(hwm.toPath), "UTF-8").trim.toLong
        else 0L
      } catch { case _: Exception => 0L }
    val w = math.max(prev + 1, nextWriteId(path))
    Files.write(hwm.toPath, w.toString.getBytes("UTF-8"))
    w
  }

  /** Create an empty ACID table directory. Like the reference, a fresh
    * table has no base — the first base appears at major compaction. */
  def create(path: String): Unit = { new File(path).mkdirs() }

  /** Resolve the partition columns an insert must use: the layout wins
    * once it exists; `partitionBy` only seeds a fresh table. */
  private def resolvePartCols(path: String,
      partitionBy: Seq[String]): Seq[String] = {
    val layout = partitionColsOf(path)
    require(layout.isEmpty || partitionBy.isEmpty || layout == partitionBy,
      s"table at $path is partitioned by ${layout.mkString(",")}, " +
        s"not ${partitionBy.mkString(",")}")
    if (layout.nonEmpty) layout else partitionBy
  }

  /** INSERT transaction: appends one `delta_w_w` of insert events — per
    * touched partition when the table is partitioned (Hive dynamic
    * partitioning; partition values live in the directory name, not the
    * stored rows).
    *
    * Concurrency: append-only txns never conflict — each publishes a
    * delta dir named by its own write id and reads nothing — so the
    * table lock is held only inside `allocateWriteId`, and two inserts
    * (same or different partitions) run their write jobs in PARALLEL
    * with disjoint ids. Read-modify-write txns (update/delete/merge)
    * still hold the lock for their whole body: without row-level
    * write-set conflict detection (the reference keeps that in the
    * metastore TxnHandler, out of engine scope) serializing them is
    * what makes racing writers see each other's deltas. */
  def insertTxn(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Long = {
    val partCols = resolvePartCols(path, partitionBy)
    val w = allocateWriteId(path)
    if (partCols.isEmpty) writeDir(asInsertEvents(df, w), path, deltaName(w, w))
    else {
      val missing = partCols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"insert is missing partition column(s) ${missing.mkString(",")}")
      val dataCols = df.columns.filterNot(partCols.contains).toSeq
      writeDirPartitioned(asInsertEventsKeeping(df, w, dataCols, partCols),
        path, partCols, deltaName(w, w))
    }
    w
  }

  /** As `asInsertEvents`, but keeps `partCols` top-level for partitioned
    * routing while the stored `row` struct holds only data columns. */
  private def asInsertEventsKeeping(df: DataFrame, w: Long,
      dataCols: Seq[String], partCols: Seq[String]): DataFrame = {
    require(df.columns.map(_.toLowerCase).intersect(
      (MetaCols :+ "row").map(_.toLowerCase)).isEmpty,
      "data columns may not collide with ACID event columns")
    // monotonically_increasing_id is (partition id << 33) + the row's
    // position in its partition: subtracting the partition part leaves
    // the per-bucket sequence row_number() over the bucket would give
    df.withColumn("bucket", spark_partition_id())
      .withColumn("rowId", monotonically_increasing_id() -
        shiftleft(spark_partition_id().cast("long"), 33))
      .select(Seq(
        lit(InsertOp).as("operation"),
        lit(w).as("originalTransaction"),
        col("bucket"),
        col("rowId"),
        lit(w).as("currentTransaction"),
        struct(dataCols.map(col): _*).as("row")) ++
        partCols.map(col): _*)
  }

  private val IdCols = Seq("originalTransaction", "bucket", "rowId")

  /** Last delta event per row identity wins; a winning delete drops the
    * row. Only delta events come here (`resolve` keeps base and original
    * rows out), and max_by over (currentTransaction) is map-side
    * combinable, so partial aggregation resolves most versions before the
    * shuffle. Partition columns are GROUPING keys, not payload: every
    * event of a row identity lives in the row's partition dir (updates
    * cannot move partitions, deletes are routed to the target), so adding
    * them to the key never splits a group — and it makes a partition
    * predicate over the snapshot pushable through the aggregate all the
    * way to the scan's PartitionFilters. */
  private def mergeEvents(events: DataFrame,
      partCols: Seq[String]): DataFrame =
    events
      .groupBy((partCols ++ IdCols).map(col): _*)
      .agg(max_by(struct(col("operation"), col("row")),
        col("currentTransaction")).as("last"))
      .filter(col("last.operation") =!= DeleteOp)
      .select(Seq(
        struct(IdCols.map(col): _*).as("row__id"),
        col("last.row.*")) ++
        partCols.map(col): _*)

  /** Pre-ACID original files as rows with SYNTHESIZED row identities,
    * the reference's on-the-fly ROW__ID for originals:
    * originalTransaction 0, bucket = the file's index within its own
    * directory's sorted file list, rowId = the row's position in its file
    * (`_metadata.row_index` — stable for a given file, so identities
    * survive re-reads with different task splits, and NO shuffle is
    * spent synthesizing them). The distinct-path pre-pass is a
    * metadata-column-only scan bounded by file count, and the whole
    * synthesis retires at the first major compaction. */
  private def originalRows(spark: SparkSession, basePath: String,
      files: Seq[File], partCols: Seq[String]): DataFrame = {
    val raw = spark.read.option("basePath", basePath)
      .parquet(files.map(_.toString): _*)
      .select(col("*"), col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("rowId"))
    // bucket = the file's index within ITS OWN directory's sorted file
    // list, NOT a table-wide index: per-leaf compaction re-synthesizes
    // identities seeing only its partition's files, so a table-wide
    // index would renumber rows and resurrect deleted ones. Identities
    // are therefore unique per partition (the merge keys on partition
    // columns too), exactly the reference's scope for ROW__ID.
    val paths = raw.select("__file").distinct()
      .collect().map(_.getString(0))
    val bucketOf = spark.createDataFrame(
      paths.groupBy(p => p.substring(0, p.lastIndexOf('/'))).toSeq
        .flatMap { case (_, ps) => ps.sorted.zipWithIndex })
      .toDF("__file", "bucket")
    val dataCols = raw.columns
      .filterNot(Set("__file", "rowId") ++ partCols)
    raw.join(broadcast(bucketOf), "__file")
      .select(Seq(lit(0L).as("originalTransaction"), col("bucket"),
        col("rowId")) ++ (dataCols ++ partCols).map(col): _*)
  }

  /** Key under which Spark's parquet writer stores the row schema as JSON
    * in each file's footer (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark's writer stored in the footer of the dir's first
    * data file — with mergeSchema off, exactly the one footer Spark's own
    * inference reads, so the result is the same. Read on the driver like
    * the reference's `OrcRawRecordMerger`, which opens each base/delta
    * with its own footer schema. None when the dir holds no data file or
    * its writer was not Spark. */
  private def storedSchema(spark: SparkSession, dir: File)
      : Option[StructType] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(originalFile).sortBy(_.getName).headOption.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI),
            spark.sparkContext.hadoopConfiguration))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
        finally reader.close()
      }.flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }

  /** `t` with every field, array element and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The one way to read published base/delta dirs: one scan per
    * distinct footer schema, joined by name (`unionByName` widens
    * differing column types). Passing the stored schema skips Spark's
    * schema-inference job, so building a snapshot launches no job; a
    * dir's schema is applied only to dirs that stored the same one up to
    * nullability (insert, update and delete events each store their own
    * nullability, and a scan per kind would multiply the scans of every
    * read). Dirs without Spark's key (another writer, or no data file)
    * fall back to inference, one dir at a time. `root` is the
    * partition-discovery base, so partition columns come from the path. */
  private def readPublished(spark: SparkSession, root: String,
      dirs: Seq[File]): Option[DataFrame] = {
    def reader = spark.read.option("basePath", root)
    val tagged = dirs.map(d =>
      storedSchema(spark, d).map(nullable(_).asInstanceOf[StructType]) ->
        d.toString)
    tagged.map(_._1).distinct.flatMap {
      case Some(s) =>
        Seq(reader.schema(s).parquet(
          tagged.collect { case (Some(`s`), d) => d }: _*))
      case None => tagged.collect { case (None, d) => reader.parquet(d) }
    }.reduceOption(_ unionByName _)
  }

  /** Current committed snapshot with the ROW__ID virtual column exposed
    * (originalTransaction, bucket, rowId) — the reference's ROW__ID.
    * Selected dirs read as batched scans (`readPublished`: every selected
    * base dir, every selected delta dir; plus every original file) with
    * directory-derived partition columns — plan size is constant in
    * delta and partition count, Catalyst prunes partitions on the
    * inferred columns, and building the snapshot launches no job unless
    * pre-ACID originals are present. Base rows are read without a
    * shuffle; only the delta events are aggregated (`resolve`). */
  def snapshotWithRowId(spark: SparkSession, path: String): DataFrame =
    snapshotWithRowIdAsOf(spark, path, Long.MaxValue)

  /** Snapshot as of a write-id horizon (time travel): the table exactly
    * as a reader with ValidWriteIdList high-water mark `asOf` saw it —
    * writes above the horizon invisible, directory-level selection via
    * `stateAsOf`, which fails loudly if that history was compacted away
    * and cleaned rather than silently misreading. */
  def snapshotWithRowIdAsOf(spark: SparkSession, path: String,
      asOf: Long): DataFrame = {
    val leaves = partitionLeaves(path)
    if (leaves.isEmpty) resolve(spark, path, Nil, Seq(stateAsOf(path, asOf)))
    else resolve(spark, path, partitionColsOf(path),
      leaves.map(l => stateAsOf(l.toString, asOf)))
  }

  /** The snapshot of the dirs `states` select (one state per partition
    * leaf under `root`, or the root's own). Base and original rows are
    * kept unless an update or delete event of a selected delta names
    * their identity (a left anti join on `partCols ++ IdCols`); the delta
    * events resolve among themselves in `mergeEvents`. Exact, because
    * the census selects only deltas above the base, so any delta event
    * outranks the base row it names; insert events carry a write id
    * above the base and can never name a base row, so they stay off the
    * join's build side. A table with no deltas is a plain projection of
    * its rows (the MERGE BYPASS: no join, no aggregate, no shuffle — the
    * payoff the compactor exists for). */
  private def resolve(spark: SparkSession, root: String,
      partCols: Seq[String], states: Seq[State]): DataFrame = {
    val deltaDirs = states.flatMap(_.deltas.map(_.dir))
    val deltas = readPublished(spark, root, deltaDirs)
    // the default partition reads as NULL, and its rows must match like
    // any other partition's; a null-safe match keeps a partition
    // predicate off the named identities' scan, so it is used only then
    val nullSafe = deltaDirs.exists(_.getPath.contains(
      s"=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"))
    val originals = states.flatMap(_.originals)
    val rows = (readPublished(spark, root, states.flatMap(_.base.map(_._2))) ++
      (if (originals.isEmpty) None
       else Some(originalRows(spark, root, originals, partCols))))
      .reduceOption(_ unionByName _)
    val key = partCols ++ IdCols
    val live = rows.map { r =>
      val kept = deltas.fold(r) { d =>
        val named = d.filter(col("operation") =!= InsertOp)
          .select(key.map(c => col(c).as(s"__d_$c")): _*)
        val on = key.map { c =>
          if (nullSafe && partCols.contains(c)) col(c) <=> col(s"__d_$c")
          else col(c) === col(s"__d_$c")
        }
        r.join(named, on.reduce(_ && _), "left_anti")
      }
      val dataCols = r.columns.filterNot(key.contains)
      kept.select(struct(IdCols.map(col): _*).as("row__id") +:
        (dataCols ++ partCols).map(col): _*)
    }
    (live.toSeq ++ deltas.map(mergeEvents(_, partCols))) match {
      case Seq() => spark.emptyDataFrame
      case es    => es.reduce(_ unionByName _)
    }
  }

  /** Current committed snapshot (data columns only). */
  def snapshot(spark: SparkSession, path: String): DataFrame =
    snapshotWithRowId(spark, path).drop("row__id")

  /** Time-travel snapshot (data columns only): the committed table as
    * of write id `asOf`. */
  def snapshotAsOf(spark: SparkSession, path: String, asOf: Long)
      : DataFrame =
    snapshotWithRowIdAsOf(spark, path, asOf).drop("row__id")

  // -- partition-granular mutation locks (round 10, VERDICT r08 #8) ----
  // A read-modify-write whose WHERE pins EVERY partition column to a
  // literal conflicts only with writers of that partition. Hierarchy
  // (deadlock-free, strictly serializable):
  //   partition writer: table lock { create intent } → partition lock
  //     { allocate id + work } → delete intent
  //   table-level RMW:  loop { table lock { if no live intents → work } }
  // The table-level writer RELEASES the lock between retries, so a
  // partition writer's brief table-lock needs (intent creation, write-id
  // allocation) can always interleave — no deadly embrace. New intents
  // can't appear during a table-level body (intent creation needs the
  // table lock it holds). An intent is live while fresh (mtime) or while
  // its partition's lock file heartbeats; a crashed partition writer's
  // intent goes stale with its lock and is swept.
  private val IntentDirName = "_txn_part_intents"

  /** Partition directory (relative) when `where` pins every partition
    * column with a top-level equality conjunct to a literal. */
  private[graft] def pinnedPartition(
      where: String, partCols: Seq[String]): Option[String] = {
    if (partCols.isEmpty) return None
    // OR / NOT / parens could widen the partition set — decline
    if ("""(?is).*(\bor\b|\bnot\b|\(|\)).*""".r.matches(where)) return None
    val EqRe = """(?i)`?(\w+)`?\s*=\s*(.+)""".r
    val pins = scala.collection.mutable.Map.empty[String, String]
    where.split("""(?i)\s+and\s+""").map(_.trim).foreach {
      case EqRe(c, v) =>
        partCols.find(_.equalsIgnoreCase(c)).foreach { pc =>
          val lit = v.trim
          val value =
            if (lit.matches("'[^']*'") || lit.matches("\"[^\"]*\""))
              Some(lit.substring(1, lit.length - 1))
            else if (lit.matches("""-?\d+(\.\d+)?""")) Some(lit)
            else None
          value.foreach(x => pins.getOrElseUpdate(pc, x))
        }
      case _ => ()
    }
    if (partCols.forall(pins.contains)) {
      val esc = ExternalCatalogUtils.escapePathName _
      Some(partCols.map(c => s"${esc(c)}=${esc(pins(c))}").mkString("/"))
    } else None
  }

  private def liveIntents(path: String): Seq[File] = {
    val dir = new File(path, IntentDirName)
    Option(dir.listFiles()).getOrElse(Array.empty[File]).filter { f =>
      val age = System.currentTimeMillis() - f.lastModified()
      if (age <= lockTtlMs) true
      else {
        val rel =
          try new String(Files.readAllBytes(f.toPath), "UTF-8").trim
          catch { case _: Exception => "" }
        val plock = new File(new File(path, rel), LockName)
        val alive = plock.exists() &&
          System.currentTimeMillis() - plock.lastModified() <= lockTtlMs
        if (!alive) { f.delete(); false } else true
      }
    }.toSeq
  }

  /** Table-scope read-modify-write: the table lock plus no live
    * partition intents — released and retried while intents drain. */
  private def withTableMutationLock[T](path: String)(f: => T): T = {
    val deadline = System.nanoTime() + lockTimeoutMs * 1000000L
    var out: Option[T] = None
    while (out.isEmpty) {
      out = withWriteLock(path) {
        if (liveIntents(path).isEmpty) Some(f) else None
      }
      if (out.isEmpty) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"table-level ACID mutation on $path blocked by live " +
              s"partition writer(s) beyond $lockTimeoutMs ms")
        Thread.sleep(20)
      }
    }
    out.get
  }

  /** Partition-scope read-modify-write: an intent under the table lock,
    * then the work under the PARTITION's lock — same-partition writers
    * serialize; other partitions and append-only txns run concurrently. */
  private def withPartitionMutationLock[T](path: String, rel: String)
      (f: => T): T = {
    val intent = withWriteLock(path) {
      val dir = new File(path, IntentDirName)
      dir.mkdirs()
      val fi = new File(dir, java.util.UUID.randomUUID().toString)
      Files.write(fi.toPath, rel.getBytes("UTF-8"))
      fi
    }
    try {
      val partDir = new File(path, rel)
      partDir.mkdirs()
      lastMutationScope.set(s"partition:$rel")
      withWriteLock(partDir.getPath)(f)
    } finally intent.delete()
  }

  /** Test observability: scope taken by the most recent mutation on
    * this thread ("table" or "partition:<rel>"). */
  private[graft] val lastMutationScope = new ThreadLocal[String]

  private def withMutationLock[T](path: String, where: String)
      (f: => T): T =
    pinnedPartition(where, partitionColsOf(path)) match {
      case Some(rel) => withPartitionMutationLock(path, rel)(f)
      case None =>
        lastMutationScope.set("table")
        withTableMutationLock(path)(f)
    }

  /** UPDATE transaction: SQL simultaneous-assignment semantics (every SET
    * expression and the predicate see the PRE-update row), writing update
    * events that keep the original ROW__ID — O(matched rows), never a
    * table rewrite. */
  def updateTxn(spark: SparkSession, path: String,
      sets: Map[String, String], where: String): Long =
    withMutationLock(path, where) {
    val partCols = partitionColsOf(path)
    val cur = snapshotWithRowId(spark, path)
    val dataCols = cur.columns
      .filterNot(c => c == "row__id" || partCols.contains(c))
    val setsLower = sets.map { case (c, e) => c.toLowerCase -> e }
    // Hive rejects SET on a partition column (SemanticAnalyzer
    // updateDelete): an update event stays in its row's partition dir
    val movedPart = setsLower.keySet
      .intersect(partCols.map(_.toLowerCase).toSet)
    require(movedPart.isEmpty,
      s"UPDATE cannot set partition column(s) ${movedPart.mkString(", ")}")
    val unknown = setsLower.keySet.diff(dataCols.map(_.toLowerCase).toSet)
    require(unknown.isEmpty,
      s"UPDATE SET references column(s) ${unknown.mkString(", ")} not in $path")
    val w = allocateWriteId(path)
    val matched = cur.filter(expr(where))
    val updatedRow = struct(dataCols.map { c =>
      setsLower.get(c.toLowerCase) match {
        // cast back: the event schema is the table schema — a SET whose
        // expression widens the type would silently fork the row struct
        case Some(e) => expr(e).cast(matched.schema(c).dataType).as(c)
        case None    => col(c)
      }
    }: _*)
    publishEvents(matched.select(Seq(
      lit(UpdateOp).as("operation"),
      col("row__id.originalTransaction"),
      col("row__id.bucket"),
      col("row__id.rowId"),
      lit(w).as("currentTransaction"),
      updatedRow.as("row")) ++
      partCols.map(col): _*), path, partCols, deltaName(w, w))
    w
  }

  /** DELETE transaction: delete events carry only the ROW__ID (row is
    * NULL), matching `OrcRecordUpdater.delete`. NULL predicate keeps the
    * row (three-valued logic, as in `Warehouse.delete`). */
  def deleteTxn(spark: SparkSession, path: String, where: String): Long =
    withMutationLock(path, where) {
    val partCols = partitionColsOf(path)
    val cur = snapshotWithRowId(spark, path)
    val dataCols = cur.columns
      .filterNot(c => c == "row__id" || partCols.contains(c))
    val w = allocateWriteId(path)
    val rowType = cur.select(struct(dataCols.map(col): _*)).schema.head.dataType
    publishEvents(cur.filter(coalesce(expr(where), lit(false))).select(Seq(
      lit(DeleteOp).as("operation"),
      col("row__id.originalTransaction"),
      col("row__id.bucket"),
      col("row__id.rowId"),
      lit(w).as("currentTransaction"),
      lit(null).cast(rowType).as("row")) ++
      partCols.map(col): _*), path, partCols, deltaName(w, w))
    w
  }

  /** MERGE INTO as ONE transaction (Hive 2.2 MERGE over ACID tables,
    * `SemanticAnalyzer` merge path): matched rows take the first WHEN
    * clause whose condition holds (update or delete events keeping their
    * ROW__ID), unmatched source rows become insert events — all in a
    * single `delta_w_w`, from one persisted snapshot-source join. The reference's
    * cardinality check (a target row matching >1 source row is an error)
    * keys on ROW__ID here, which the rewrite-path `Warehouse.merge` has
    * to approximate by whole-row value. */
  def mergeTxn(spark: SparkSession, path: String,
      source: DataFrame, sourceAlias: String, targetAlias: String,
      on: String,
      matched: Seq[Warehouse.MatchedClause],
      notMatched: Option[Warehouse.NotMatchedInsert]): Long =
    mergeTxnImpl(spark, path, source, sourceAlias, targetAlias, on,
      matched, notMatched, None)

  private def mergeTxnImpl(spark: SparkSession, path: String,
      source: DataFrame, sourceAlias: String, targetAlias: String,
      on: String,
      matched: Seq[Warehouse.MatchedClause],
      notMatched: Option[Warehouse.NotMatchedInsert],
      marker: Option[String]): Long = {
    lastMutationScope.set("table")
    withTableMutationLock(path) {
    require(matched.nonEmpty || notMatched.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val partCols = partitionColsOf(path)
    val cur = snapshotWithRowId(spark, path)
    // data columns exclude partition columns: they are directory-encoded,
    // never in the stored row struct; an insert still VALUES them (dynamic
    // partitioning routes the event), an update may not SET them
    val allCols = cur.columns.filterNot(_ == "row__id").toSeq
    val dataCols = allCols.filterNot(partCols.contains)
    matched.foreach {
      case Warehouse.MatchedUpdate(_, sets) =>
        val p = sets.keySet.map(_.toLowerCase)
          .intersect(partCols.map(_.toLowerCase).toSet)
        require(p.isEmpty,
          s"MERGE UPDATE cannot set partition column(s) ${p.mkString(", ")}")
      case _ => ()
    }
    val w = allocateWriteId(path)
    val t = cur.alias(targetAlias)
    val s = source.alias(sourceAlias)
    // persisted: cardinality check, matched events and the inserts all
    // read this one join; without it the snapshot and the source are
    // read again per action (and a nondeterministic source could pass
    // the check yet write different events). With a NOT MATCHED clause
    // the join keeps every source row: the unmatched ones are the
    // inserts.
    val joined =
      if (notMatched.isEmpty) t.join(s, expr(on), "inner")
      else s.join(t, expr(on), "left_outer")
    val targetRowId = col(s"$targetAlias.row__id")
    WorkingSet.using(joined) {
      val hits = joined.filter(targetRowId.isNotNull)
      // key on (partition, row__id): identities of adopted originals are
      // unique per partition, not table-wide
      val dup = hits.groupBy(targetRowId +:
          partCols.map(c => col(s"$targetAlias.$c")): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
      require(dup == 0,
        s"MERGE cardinality violation: a row of $path matches more than " +
          "one source row")
      // first listed WHEN MATCHED clause whose condition holds applies;
      // 0 = no clause matched (row untouched — emit no event)
      val outcome = matched.zipWithIndex.foldRight(lit(0)) {
        case ((cl, i), els) =>
          val c = cl match {
            case Warehouse.MatchedUpdate(cond, _) => cond
            case Warehouse.MatchedDelete(cond)    => cond
          }
          when(c.map(expr).getOrElse(lit(true)), lit(i + 1)).otherwise(els)
      }
      val withOut = hits.withColumn("__out", outcome)
      val rowType = cur.select(struct(dataCols.map(c =>
        col(c)): _*)).schema.head.dataType
      val targetParts = partCols.map(c => col(s"$targetAlias.$c"))
      val matchedEvents = matched.zipWithIndex.map {
        case (Warehouse.MatchedUpdate(_, sets), i) =>
          val setsLower = sets.map { case (c, e) => c.toLowerCase -> e }
          withOut.filter(col("__out") === (i + 1)).select(Seq(
            lit(UpdateOp).as("operation"),
            col(s"$targetAlias.row__id.originalTransaction"),
            col(s"$targetAlias.row__id.bucket"),
            col(s"$targetAlias.row__id.rowId"),
            lit(w).as("currentTransaction"),
            struct(dataCols.map { c =>
              setsLower.get(c.toLowerCase) match {
                case Some(e) => expr(e)
                  .cast(cur.schema(c).dataType).as(c)
                case None => col(s"$targetAlias.$c")
              }
            }: _*).as("row")) ++ targetParts: _*)
        case (Warehouse.MatchedDelete(_), i) =>
          withOut.filter(col("__out") === (i + 1)).select(Seq(
            lit(DeleteOp).as("operation"),
            col(s"$targetAlias.row__id.originalTransaction"),
            col(s"$targetAlias.row__id.bucket"),
            col(s"$targetAlias.row__id.rowId"),
            lit(w).as("currentTransaction"),
            lit(null).cast(rowType).as("row")) ++ targetParts: _*)
      }
      val insertEvents = notMatched.map { ins =>
        require(ins.values.size == allCols.length,
          s"MERGE INSERT VALUES arity ${ins.values.size} != " +
            s"${allCols.length} columns of $path")
        // projected to the source's columns, so an unqualified name in
        // VALUES or the condition cannot also resolve to the target
        val unmatchedSrc = joined.filter(targetRowId.isNull)
          .select(s"$sourceAlias.*").alias(sourceAlias)
          .filter(ins.cond.map(expr).getOrElse(lit(true)))
        val inserted = unmatchedSrc.select(
          ins.values.zip(allCols).map { case (v, c) =>
            expr(v).cast(cur.schema(c).dataType).as(c)
          }: _*)
        if (partCols.isEmpty) asInsertEvents(inserted, w)
        else asInsertEventsKeeping(inserted, w, dataCols, partCols)
      }
      val events = (matchedEvents ++ insertEvents).reduce(_ unionByName _)
      publishEvents(events, path, partCols, deltaName(w, w), marker)
      w
    }
  }
  }

  // ---- SQL registry (GraftSession.sql front door) ----

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Register a delta-layout table under a SQL name: `spark.table(name)`
    * serves the current snapshot, and `GraftSession.sql` routes INSERT
    * INTO / UPDATE / DELETE / MERGE INTO / ALTER TABLE ... COMPACT on
    * this name to ACID transactions — a reference user's ACID SQL runs
    * unchanged against the delta layout. The view captures the census at
    * registration; every SQL-routed txn re-registers it, and Scala-API
    * writers call `refresh` themselves. */
  def register(spark: SparkSession, name: String, path: String): Unit = {
    registry(name.toLowerCase) = path
    refresh(spark, name)
  }

  /** Re-point the registered view at the table's current census. */
  def refresh(spark: SparkSession, name: String): Unit =
    registry.get(name.toLowerCase).foreach { path =>
      snapshot(spark, path).createOrReplaceTempView(name)
    }

  def deregister(spark: SparkSession, name: String): Unit = {
    registry.remove(name.toLowerCase)
    spark.catalog.dropTempView(name)
    ()
  }

  private[graft] def registeredPath(name: String): Option[String] =
    registry.get(name.toLowerCase)

  // ---- streaming ingest (HiveEndPoint/TransactionBatch semantics) ----

  private val BatchMarker = "_batch_"

  /** Highest streaming batch id committed into this table: markers ride
    * inside the atomically-renamed dirs, so a batch is recorded iff its
    * delta is visible. Compaction carries the max marker forward into
    * the dir it writes (see below) — cleaning originals must not forget
    * history, or a replay after compaction would double-insert. */
  private[graft] def lastCommittedBatch(path: String): Long = {
    val ids: Seq[Long] = ackDirs(path)
      .flatMap(root => Option(new File(root).listFiles())
        .getOrElse(Array.empty[File]).toSeq)
      .filter(visible)
      .flatMap(dir => Option(dir.listFiles())
        .getOrElse(Array.empty[File]).toSeq)
      .collect { case f if f.getName.startsWith(BatchMarker) =>
        f.getName.stripPrefix(BatchMarker).toLong }
    if (ids.isEmpty) -1L else ids.max
  }

  /** One micro-batch = one insert transaction (the reference's streaming
    * `TransactionBatch.commit`, `hcatalog/streaming/HiveEndPoint.java`):
    * replayed batches (id at or below the committed watermark) are
    * skipped, so foreachBatch redelivery after a crash is exactly-once.
    * Returns the write id, or None for a skipped replay. */
  def streamingInsertTxn(spark: SparkSession, path: String, df: DataFrame,
      batchId: Long, partitionBy: Seq[String] = Nil): Option[Long] =
    withWriteLock(path) {
      if (batchId <= lastCommittedBatch(path)) None
      else {
        val partCols = resolvePartCols(path, partitionBy)
        val w = allocateWriteId(path)
        val events =
          if (partCols.isEmpty) asInsertEvents(df, w)
          else asInsertEventsKeeping(df, w,
            df.columns.filterNot(partCols.contains).toSeq, partCols)
        publishEvents(events, path, partCols, deltaName(w, w),
          marker = Some(s"$BatchMarker$batchId"))
        Some(w)
      }
    }

  /** Keyed upsert as ONE MERGE transaction per micro-batch — the ACID
    * replacement for `Ingest.startUpsert`'s staged table rewrite, and
    * the streaming CDC shape: the batch reduces to its latest row per
    * key (by `orderCol`, NULLs rank lowest), then commits
    * update-matched / insert-unmatched events in a single delta —
    * O(batch) written per batch instead of a table rewrite, and
    * published atomically. The in-batch reduce makes same-key
    * duplicates within a batch safe; the batch marker makes whole-batch
    * redelivery after a crash exactly-once. Key matching is NULL-safe
    * (`<=>`), like `startUpsert`. This 1.2-era reference streams
    * inserts only (`hcatalog/streaming/TransactionBatch.java`) — the
    * delta layout is what makes row-level streaming mutation natural,
    * which is the route later Hive versions took. */
  def streamingUpsertTxn(spark: SparkSession, path: String,
      batch: DataFrame, keyCols: Seq[String], orderCol: String,
      batchId: Long): Option[Long] = withWriteLock(path) {
    if (batchId <= lastCommittedBatch(path)) None
    else {
      val all = struct(batch.columns.map(col): _*)
      val ord = struct(col(orderCol).isNotNull.as("_has"),
        col(orderCol).as("_v"))
      val latest = batch
        .groupBy(keyCols.map(col): _*)
        .agg(max_by(all, ord).as("_row"))
        .select(batch.columns.map(c => col(s"_row.$c").as(c)): _*)
      val partCols = partitionColsOf(path)
      val s = state(path)
      val bootstrap = !isPartitioned(path) && s.base.isEmpty &&
        s.deltas.isEmpty && s.originals.isEmpty
      if (bootstrap) { // first batch of a fresh table: plain insert txn
        val w = allocateWriteId(path)
        publishEvents(asInsertEvents(latest, w), path, Nil,
          deltaName(w, w), Some(s"$BatchMarker$batchId"))
        Some(w)
      } else {
        // SET and VALUES follow the TABLE's column order, not the
        // batch frame's — MERGE INSERT VALUES bind positionally
        val tableCols = snapshotWithRowId(spark, path).columns
          .filterNot(_ == "row__id").toSeq
        val missing = tableCols.filterNot(batch.columns.contains)
        require(missing.isEmpty,
          s"upsert batch is missing table column(s) ${missing.mkString(",")}")
        val on = keyCols.map(c => s"t.$c <=> s.$c").mkString(" AND ")
        val sets = tableCols
          .filterNot(c => keyCols.contains(c) || partCols.contains(c))
          .map(c => c -> s"s.$c").toMap
        Some(mergeTxnImpl(spark, path, latest, "s", "t", on,
          matched = Seq(Warehouse.MatchedUpdate(None, sets)),
          notMatched = Some(Warehouse.NotMatchedInsert(None,
            tableCols.map(c => s"s.$c"))),
          marker = Some(s"$BatchMarker$batchId")))
      }
    }
  }

  /** Continuous ACID upsert sink: one MERGE txn per micro-batch. */
  def startStreamingUpsert(stream: DataFrame, path: String,
      keyCols: Seq[String], orderCol: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        streamingUpsertTxn(batch.sparkSession, path, batch, keyCols,
          orderCol, batchId)
        ()
      }
      .start()

  /** Continuous transactional ingest: each micro-batch commits as one
    * delta. Pair with `maybeCompact` on a maintenance cadence. */
  def startStreamingInsert(stream: DataFrame, path: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        streamingInsertTxn(batch.sparkSession, path, batch, batchId)
        ()
      }
      .start()

  /** MINOR compaction (`Worker.java` CompactionType.MINOR): merge the
    * active deltas into one `delta_min_max`, events untouched. The
    * originals stay until `clean` — readers that listed them keep a
    * consistent view, and `state`'s widest-first selection already
    * ignores them for new readers. */
  def compactMinor(spark: SparkSession, path: String): Unit = {
    if (isPartitioned(path)) {
      // per-partition worker runs, exactly the reference's per-partition
      // compaction queue — each leaf is an unpartitioned layout
      partitionLeaves(path).foreach(l => compactMinor(spark, l.toString))
      return
    }
    val s = state(path)
    if (s.deltas.size > 1) {
      val merged = readPublished(spark, path, s.deltas.map(_.dir)).get
      writeDir(merged, path,
        deltaName(s.deltas.map(_.min).min, s.deltas.map(_.max).max),
        marker = maxMarker(s.deltas.map(_.dir)))
    }
  }

  /** Streaming batch watermark carried into a compacted dir: forgetting
    * it when the Cleaner drops the originals would let a post-compaction
    * replay double-insert an already-committed batch. */
  private def maxMarker(dirs: Seq[File]): Option[String] = {
    val ids: Seq[Long] = dirs
      .flatMap(dir => Option(dir.listFiles())
        .getOrElse(Array.empty[File]).toSeq)
      .collect { case f if f.getName.startsWith(BatchMarker) =>
        f.getName.stripPrefix(BatchMarker).toLong }
    if (ids.isEmpty) None else Some(s"$BatchMarker${ids.max}")
  }

  /** MAJOR compaction: resolve base+deltas into a new `base_w` of plain
    * rows that KEEP their original ROW__IDs (compaction never renumbers a
    * live row — later deltas still reference it). */
  def compactMajor(spark: SparkSession, path: String): Unit = {
    if (isPartitioned(path)) {
      partitionLeaves(path).foreach(l => compactMajor(spark, l.toString))
      return
    }
    val s = state(path)
    val w = (s.base.map(_._1).getOrElse(0L) +: s.deltas.map(_.max)).max
    // nothing above the base (or originals with no txns yet, w=0): the
    // worker has nothing to fold — re-running must not collide with the
    // existing base_w dir
    if (s.deltas.nonEmpty) {
      val resolved = snapshotWithRowId(spark, path).select(
        col("row__id.originalTransaction"),
        col("row__id.bucket"),
        col("row__id.rowId"),
        col("*")).drop("row__id")
      writeDir(resolved, path, baseName(w),
        marker = maxMarker(s.base.map(_._2).toSeq ++ s.deltas.map(_.dir)))
    }
  }

  /** `Initiator.java` heuristic: enough deltas piled up → compact; MAJOR
    * when delta bytes outweigh `ratio` of the base (or there is no base),
    * MINOR otherwise. Returns what it did. */
  def maybeCompact(spark: SparkSession, path: String,
      minDeltas: Int = 10, ratio: Double = 0.1): String = {
    if (isPartitioned(path)) {
      val acts = maybeCompactPartitions(spark, path, minDeltas, ratio)
      return Seq("major", "minor", "none")
        .map(a => s"$a:${acts.values.count(_ == a)}").mkString(",")
    }
    val s = state(path)
    if (s.deltas.size < minDeltas) "none"
    else {
      def bytes(f: File): Long =
        Option(f.listFiles()).getOrElse(Array.empty).map(_.length()).sum
      val deltaBytes = s.deltas.map(d => bytes(d.dir)).sum.toDouble
      val baseBytes = s.base.map(b => bytes(b._2)).getOrElse(0L).toDouble
      if (baseBytes == 0d || deltaBytes / baseBytes > ratio) {
        compactMajor(spark, path); "major"
      } else { compactMinor(spark, path); "minor" }
    }
  }

  /** Per-partition Initiator pass (the reference enqueues compactions
    * per partition): relative partition path → action taken. */
  def maybeCompactPartitions(spark: SparkSession, path: String,
      minDeltas: Int = 10, ratio: Double = 0.1): Map[String, String] = {
    val root = new File(path).toPath
    partitionLeaves(path).map { l =>
      root.relativize(l.toPath).toString ->
        maybeCompact(spark, l.toString, minDeltas, ratio)
    }.toMap
  }

  /** `Cleaner.java`: drop directories a new reader can no longer select —
    * bases below the best base, deltas at or below it, and deltas strictly
    * inside a selected (compacted) delta. Run only when in-flight readers
    * of the old census are done; that handoff is the reference Cleaner's
    * job too (it waits out open transactions). */
  def clean(path: String): Unit = {
    if (isPartitioned(path)) {
      partitionLeaves(path).foreach(l => clean(l.toString))
      return
    }
    val s = state(path)
    val keep = (s.base.map(_._2) ++ s.deltas.map(_.dir)).map(_.getName).toSet
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => visible(f) &&
        (f.getName.startsWith("base_") || f.getName.startsWith("delta_")) &&
        !keep(f.getName))
      .foreach { dir =>
        Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        dir.delete()
      }
    // a base covers the pre-ACID originals: drop them too (the reference
    // Cleaner removes obsolete originals after the first major compaction)
    if (s.base.isDefined)
      Option(new File(path).listFiles()).getOrElse(Array.empty)
        .filter(originalFile).foreach(_.delete())
  }
}
