package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

import graft.functions.{BloomAgg, BloomContains, BloomFunctions}

/** Benchmark decontamination: find corpus documents that share word
  * n-grams with an evaluation set (the standard contamination check run
  * before training on web-scale corpora).
  *
  * 100 TB shape: eval sets are MBs while the corpus is TBs, so the
  * distinct eval n-gram dictionary is built once and BROADCAST; the
  * corpus is scanned exactly once, its shingles stream through a
  * broadcast hash join (no corpus-side shuffle of raw text), and only
  * the surviving (id, ngram) hits reach the per-document aggregation.
  * Per-document shingles are already distinct (ShingleSet), so the hit
  * count is a plain count, not a count-distinct.
  *
  * Reference seed: Hive's ngrams machinery
  * (ql/udf/generic/GenericUDAFnGrams.java) provides the tokenization
  * convention; the decontamination composition itself is an
  * LLM-pipeline extension beyond the reference.
  */
object Decontaminate {

  /** Per-document overlap counts: (idCol, n_hits) for every corpus
    * document sharing at least one n-gram with the eval set. */
  def overlap(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val evalGrams = evalSet
      .select(explode(TextOps.shingleSet(col(textCol), n)).as("ngram"))
      .distinct()
    corpus
      .select(col(idCol), explode(TextOps.shingleSet(col(textCol), n)).as("ngram"))
      .join(broadcast(evalGrams), "ngram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Corpus with a `contaminated` flag: true when a document shares at
    * least `minHits` distinct n-grams with the eval set. Left join keeps
    * clean documents (the common case) flowing through untouched. */
  def flag(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minHits: Int = 1): DataFrame = {
    val hits = overlap(corpus, evalSet, idCol, textCol, n)
    corpus
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** `bloom_build(value, numBits, numHashes)` as a Column aggregate. */
  def bloomBuild(value: Column, numBits: Int, numHashes: Int): Column =
    toCol(BloomAgg(toExpr(value), numBits, numHashes)
      .toAggregateExpression())

  /** `bloom_contains(filter, value)` as a Column. */
  def bloomContains(filter: Column, value: Column): Column =
    toCol(BloomContains(toExpr(filter), toExpr(value)))

  /** `overlap` with a Bloom pre-filter: same output, different 100 TB
    * envelope. The broadcast-join shape above ships the full distinct
    * eval-gram dictionary to every executor as a JOIN HASH TABLE —
    * dozens of bytes per gram of java.util overhead. This variant
    * aggregates the eval grams into a Bloom filter (MBs of bits at
    * `fpp`, built with one tiny extra aggregate), probes every corpus
    * shingle SCAN-LOCALLY with two xxhash64 evaluations inside
    * whole-stage codegen, and only the survivors — true hits plus an
    * fpp-fraction of false positives — enter the broadcast hash join,
    * which now exists solely to make the result exact. Because the
    * Bloom filter has no false negatives and the join removes the
    * false positives, the output is bit-identical to `overlap` — the
    * two-phase plan is a pure physical rewrite, which is what makes it
    * oracle-checkable at all.
    *
    * The eval side is scanned twice: once cached for the sizing count
    * + build aggregate, once by the verify join — to keep the TB-scale
    * side single-scan and shuffle-free, the right trade at any corpus
    * size. Measured at sf1 the sketch path pays ~10% over `overlap`
    * (the extra tiny-side jobs; the eval dictionary there is small
    * enough to broadcast comfortably) — its win is the regime where
    * the gram dictionary is too big to ship as a join hash table but
    * its bits are not. */
  def overlapBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val evalGrams = evalSet
      .select(explode(TextOps.shingleSet(col(textCol), n)).as("ngram"))
      .distinct()
    // the sizing count and the build share one working set, released
    // before return, so the verify join below re-derives the grams — two
    // scans of the tiny side total, same envelope as `overlap`'s one
    // plus the sketch
    val filter = graft.WorkingSet.using(evalGrams) {
      val nGrams = math.max(1L, evalGrams.count())
      val (bits, hashes) = BloomFunctions.optimalParams(nGrams, fpp)
      evalGrams
        .agg(bloomBuild(col("ngram"), bits, hashes).as("f"))
        .head().getAs[Array[Byte]](0)
    }
    corpus
      .select(col(idCol),
        explode(TextOps.shingleSet(col(textCol), n)).as("ngram"))
      .filter(bloomContains(lit(filter), col("ngram")))
      .join(broadcast(evalGrams), "ngram") // exact verify: drops the FPs
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }
}
