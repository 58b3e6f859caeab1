package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.WorkingSet

/** EXACT set-similarity self-join with prefix filtering (Bayardo et al.
  * "Scaling Up All Pairs Similarity Search", WWW'07; Chaudhuri et al.
  * SSJoin) — the exact complement to the approximate LSH family in
  * `Dedup`: every pair with token-set Jaccard ≥ t, no false negatives.
  * Reference counterpart: the near-duplicate-detection capability
  * (builder brief); Hive itself has no set-sim join.
  *
  * Why this scales where the naive plan dies: the naive exact join is
  * token-inverted-index × itself — every pair sharing ANY token, i.e.
  * quadratic fan-out on every common token. Prefix filtering inverts
  * only each document's RAREST p tokens (sorted by ascending global
  * document frequency), with p = |x| − ⌈t·|x|⌉ + 1 chosen so any pair
  * with Jaccard ≥ t provably shares a prefix token (pigeonhole on the
  * required overlap ⌈t·|x|⌉ ≤ |x∩y|). Common tokens almost never appear
  * in prefixes, so candidate buckets stay small by construction; a size
  * filter (t·|x| ≤ |y| ≤ |x|/t) prunes further before the exact verify.
  *
  * Plan shape: one token-keyed shuffle to attach document frequencies,
  * one per-doc sort (doc-length bounded), one candidate self-join keyed
  * on prefix tokens, one verify join on the two (small) candidate-id
  * sides. No all-pairs stage anywhere; skew is bounded by prefix
  * construction plus the optional `maxBucket` cap (0 = exact; setting it
  * trades bounded recall loss on pathological all-stopword buckets for a
  * hard fan-out ceiling, same contract as `Dedup`'s caps). */
object SetSim {

  /** The repo-wide tokenizer convention (ASCII-lowered alnum runs),
    * exposed so callers and oracles share it exactly. */
  def tokensOf(text: Column): Column =
    array_distinct(filter(
      split(lower(text), "[^a-z0-9]+"), x => length(x) > 0))

  /** All pairs (id_a < id_b) with Jaccard(tokens(a), tokens(b)) ≥
    * `threshold`, plus the exact rounded score. Threshold must be in
    * (0, 1]. */
  def jaccardSelfJoin(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      maxBucket: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val ordered = orderedTokens(df, idCol, textCol)
    // the (output-sized) pair set is pinned so the ordered-token working
    // set can drop as soon as it materializes
    WorkingSet.using(ordered) {
      WorkingSet.pin(jaccardPipeline(ordered, threshold, maxBucket))
    }
  }

  /** Per doc: (id, toks, len), the distinct tokens rarest first — the
    * working set both the prefix index and the verify join read. */
  private[graft] def orderedTokens(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      TextOps.explodeOnceIf(tokensOf(col(textCol)))(t => size(t) > 0)
        .as("toks"))
    val exploded = tok.select(col("id"), explode(col("toks")).as("token"))
    val dfreq = exploded.groupBy("token")
      .agg(count(lit(1)).as("dfreq"))
    // Per doc: tokens ascending by (global df, token) — rarest first.
    // The sort is per-document (length-bounded), not global: no global
    // rank table exists, the (df, token) tuple IS the order.
    exploded.join(dfreq, "token")
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(dfreq, token)))," +
        " s -> s.token)").as("toks"))
      .withColumn("len", size(col("toks")))
  }

  /** The lazy prefix-filter pipeline over `orderedTokens` — shared by the
    * eager public wrapper and plan specs (inside a `using` of
    * `ordered`). */
  private[graft] def jaccardPipeline(
      ordered: DataFrame, threshold: Double, maxBucket: Int): DataFrame = {
    val prefixLen = (col("len") - ceil(lit(threshold) * col("len")) + 1)
      .cast("int")
    // posexplode keeps each prefix token's 1-based position in the
    // df-sorted list for the PPJoin positional filter below
    val prefixed = ordered
      .select(col("id"), col("len"),
        posexplode(slice(col("toks"), lit(1), prefixLen)))
      .select(col("id"), col("len"), (col("pos") + 1).as("pos"),
        col("col").as("token"))
    val keyed =
      if (maxBucket <= 0) prefixed
      else {
        val ok = prefixed.groupBy("token")
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= maxBucket)
          .select("token")
        prefixed.join(ok, "token")
      }
    // PPJoin positional filter: a shared token at positions (pa, pb)
    // bounds the overlap by 1 + min(la−pa, lb−pb) (only suffix tokens
    // can still match); Jaccard ≥ t needs overlap ≥ t·(la+lb)/(1+t).
    // The ε keeps the double compare conservative — a borderline
    // candidate goes to the exact verify, never the reverse.
    val overlapUb = lit(1) +
      least(col("a.len") - col("a.pos"), col("b.len") - col("b.pos"))
    val needed = lit(threshold) *
      (col("a.len") + col("b.len")).cast("double") / lit(1.0 + threshold)
    val cands = keyed.as("a")
      .join(keyed.as("b"),
        col("a.token") === col("b.token") &&
          col("a.id") < col("b.id") &&
          col("b.len") * lit(threshold) <= col("a.len") &&
          col("a.len") * lit(threshold) <= col("b.len") &&
          overlapUb.cast("double") >= needed - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(ordered.select(col("id").as("id_a"), col("toks").as("ta"),
        col("len").as("na")), "id_a")
      .join(ordered.select(col("id").as("id_b"), col("toks").as("tb"),
        col("len").as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      // exact rational compare (identical IEEE double mul both engines);
      // the round(…,6) is display-only, never the gate
      .filter(col("inter").cast("double") >=
        lit(threshold) * col("uni").cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }
}
