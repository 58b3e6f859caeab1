package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of working-set residency: every persist, checkpoint and
  * release in the engine goes through here, in one of three kinds.
  *
  *  - A scoped working set (`using`): a frame several consumers read,
  *    persisted for the body and always released after it.
  *  - An iterate round (`iterate`): each round pinned, the previous
  *    round released only once the next has materialized and every
  *    convergence scalar that reads it has run.
  *  - A result pin (`pin`): a small result that must outlive the working
  *    sets it was computed from. The returned frame is backed by it; the
  *    caller that drops the frame frees it with `release`.
  *
  * Releases never wait on GC and the ContextCleaner: a persisted frame is
  * held strongly by the CacheManager, and a pin stays resident until its
  * frame is collected, so a dropped but unreleased working set would stay
  * resident for an unbounded time. */
object WorkingSet {

  /** Runs `body` with `ws` persisted (memory and disk), in order, so a
    * later working set derived from an earlier one caches over it. All
    * are unpersisted, non-blocking, when `body` returns or throws: a
    * result that escapes the body must be a `pin` or already written. */
  def using[T](ws: DataFrame*)(body: => T): T = {
    ws.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body finally ws.foreach(_.unpersist(blocking = false))
  }

  /** Checkpoints `df` locally, truncating its lineage. Eager by default
    * (one job now). A lazy pin materializes on the first action that
    * reads it: for a round loop whose own per-round action would
    * otherwise have to follow a separate checkpoint job. */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** Frees the blocks of every pin `df` reads: `df` itself if it is a
    * pin, or the pins under a frame derived from them. Only call once
    * nothing will read those pins again: their lineage was truncated, so
    * the data cannot be recomputed. */
  def release(df: Dataset[_]): Unit = df.queryExecution.analyzed.foreach {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  private def isPin(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** Runs up to `rounds` rounds of `step` from `init`, returning the last
    * round. Every `cutEvery`-th round and the last round are pinned;
    * rounds in between stay lazy, chained into the next one (a linear
    * chain needs no materialization, but its plan must stay bounded).
    * After each pin, `until(previous, next)` runs while the previous
    * round is still resident; then the previous round's pin is released,
    * and a true result stops the loop. `init` is released likewise when
    * it is a pin itself; the pins under a frame derived from them stay
    * the caller's. */
  def iterate(init: DataFrame, rounds: Int, cutEvery: Int = 1,
      until: (DataFrame, DataFrame) => Boolean = (_, _) => false)(
      step: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var held = init
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val next = step(cur)
      if (i % cutEvery == 0 || i == rounds) {
        val cut = pin(next)
        done = until(cur, cut)
        if ((held ne init) || isPin(init)) release(held)
        held = cut
        cur = cut
      } else cur = next
      i += 1
    }
    cur
  }
}
