package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document line-level boilerplate removal (the RefinedWeb/CCNet
  * cleanup step): a line that appears in many distinct documents is
  * navigation/footer/licence boilerplate, not content — strip it from
  * every document and rebuild the text.
  *
  * Scale shape: line text is hashed (two independent xxhash64 seeds =
  * 128 bits, so a strip decision never rides on a 64-bit collision) and
  * then DROPPED before any shuffle — the document-frequency count, the
  * left-anti probe and the per-document rebuild all move only fixed-width
  * (id, pos, h1, h2) tuples. The rebuild re-evaluates the (codegen'd)
  * line splitter against the original text column and keeps surviving
  * positions, so full line text never enters an exchange. The two passes
  * over the text column are two pruned columnar scans; at 100 TB that is
  * cheaper than materializing an exploded copy of the corpus to block
  * storage, which is why the intermediate is deliberately not persisted.
  */
object Lines {

  /** Fixed-width pseudo-lines: consecutive `n`-token groups of a text
    * column — the line splitter to use when the corpus has no natural
    * newlines (or to catch boilerplate that ignores line breaks). */
  def pseudoLines(text: Column, n: Int): Column = {
    require(n >= 1, "pseudo-line width must be >= 1 token")
    val toks = TextOps.wsTokens(text)
    val groups = ceil(size(toks) / lit(n.toDouble)).cast("int")
    transform(TextOps.upTo(lit(0), groups - 1),
      g => concat_ws(" ", slice(toks, g * n + 1, lit(n))))
  }

  /** Strip lines whose document frequency (distinct docs containing the
    * line) reaches `minDocFreq`, then rebuild each document from its
    * surviving lines in order. Documents whose every line is boilerplate
    * come back with empty text; rows with a NULL `linesCol` (e.g. split
    * of NULL text) come back empty with 0 kept / 0 dropped. Output:
    * idCol, clean_text, n_kept, n_dropped.
    *
    * `idCol` must be unique across non-NULL rows (same contract as
    * `Packing.withTokensBefore`): the rebuild groups kept positions by id,
    * so duplicate ids would merge two documents' positions into one
    * rebuild. Rows with a NULL id cannot be re-joined to their counts and
    * pass through untouched (full text kept, n_dropped = 0); they also do
    * not contribute to document frequency (countDistinct skips NULL). */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      linesCol: Column,
      minDocFreq: Long,
      joiner: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq must be >= 2")
    // (id, pos, h1, h2) — text dropped in the same projection it is
    // hashed in, so downstream shuffles are fixed-width.
    val hashed = df
      .select(col(idCol), posexplode(linesCol).as(Seq("__pos", "__line")))
      .select(col(idCol), col("__pos"),
        xxhash64(col("__line")).as("__h1"),
        xxhash64(lit(42L), col("__line")).as("__h2"))
    val frequent = hashed
      .groupBy("__h1", "__h2").agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__h1", "__h2")
    val keptPos = hashed.join(frequent, Seq("__h1", "__h2"), "left_anti")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__kept_pos"),
        count(lit(1)).as("n_kept"))
      .withColumnRenamed(idCol, "__kid")
    // Rebuild from the original text: keep surviving positions of the
    // re-evaluated splitter (per-row codegen, no text shuffle). NULL-id
    // rows never match the equality join and are passed through untouched
    // instead of being emptied.
    val isNullId = col(idCol).isNull
    val allLines = coalesce(col("__lines"), array().cast("array<string>"))
    df.select(col(idCol), linesCol.as("__lines"))
      .join(keptPos, col(idCol) === col("__kid"), "left")
      .select(col(idCol),
        when(isNullId, concat_ws(joiner, allLines))
          .otherwise(concat_ws(joiner,
            transform(coalesce(col("__kept_pos"), array().cast("array<int>")),
              p => element_at(col("__lines"), p + 1)))).as("clean_text"),
        when(isNullId, size(allLines).cast("long"))
          .otherwise(coalesce(col("n_kept"), lit(0L))).as("n_kept"),
        when(isNullId, lit(0L))
          .otherwise(coalesce(size(col("__lines")).cast("long"), lit(0L))
            - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
