package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the LLM-data-pipeline operators.
  * Everything here is composed from codegen'd built-in expressions —
  * no UDFs — so the hot path stays inside whole-stage codegen and
  * scales linearly with no driver involvement.
  *
  * Reference seed: Hive's text aggregates ngrams/context_ngrams/sentences
  * (ql/udf/generic/GenericUDAFnGrams.java, GenericUDFSentences.java) —
  * re-expressed Spark-first as array transforms + distributed counting.
  */
object TextOps {

  /** Lowercased alphanumeric tokens. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Whitespace token array, case-preserving (empty array for NULL or
    * blank text). The shared tokenization rule for chunking / packing /
    * pseudo-line operators. */
  def wsTokens(text: Column): Column =
    when(text.isNull || length(trim(text)) === 0,
      array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** The ascending inclusive range `lo..hi`: empty when `hi < lo` or `hi`
    * is NULL (a bare `sequence(0, -1)` steps down to `[0, -1]`). The
    * element type follows `lo` and `hi`, so no empty-array cast is
    * spelled out. */
  def upTo(lo: Column, hi: Column): Column =
    when(hi >= lo, sequence(lo, hi)).otherwise(slice(sequence(lo, lo), 1, 0))

  /** Generator over `f(v)` (an array) that evaluates `v` once per row.
    * `v` is bound as a lambda variable: the optimizer inlines a plain
    * alias into every consumer, so `select(split(…).as("t"))
    * .filter(size(t) > 1)` then explode runs the split in the Filter and
    * again in the Generate, and collapsed projections repeat it per use;
    * a lambda argument is opaque to that inlining. An empty `f(v)`
    * yields no row. */
  def explodeOnce(v: Column)(f: Column => Column): Column =
    explode(flatten(transform(array(v), f)))

  /** Generator over `v` itself: one row where `p(v)` holds, none
    * otherwise; `v` evaluated once per row (see `explodeOnce`). */
  def explodeOnceIf(v: Column)(p: Column => Column): Column =
    explode(filter(array(v), p))

  /** Word n-gram shingles ("a b c" for n=3) from a token array. */
  def wordNgrams(toks: Column, n: Int): Column =
    transform(upTo(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  /** Character n-gram shingles of a string. */
  def charShingles(c: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => c.substr(i, lit(n)))

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

  /** Tokenize + word-n-gram shingles straight from raw text in one native
    * pass (graft.functions.ShingleSet); token semantics identical to
    * `filter(split(lower(text), "[^a-z0-9]+"), _ != '')`. */
  def shingleSet(text: Column, n: Int, distinct: Boolean = true): Column =
    toCol(graft.functions.ShingleSet(toExpr(text), n, distinct))

  /** MinHash signature: k min-hashes over a shingle array, computed by the
    * native expression graft.functions.MinHashSignature in one pass (the
    * higher-order-function composition is interpreted and ~1000× slower). */
  def minhashSignature(shingles: Column, k: Int): Column =
    toCol(graft.functions.MinHashSignature(toExpr(shingles), k))

  /** LSH band hashes from a minhash signature: array position = band id,
    * value = order-sensitive hash of that signature slice. */
  def bandHashes(sig: Column, bands: Int): Column =
    toCol(graft.functions.BandHashes(toExpr(sig), bands))

  /** Unicode NFC canonical composition (native expression; Spark has no
    * normalization built-in). Composed and decomposed spellings must
    * agree before any dedup/fingerprint/shingle step. */
  def nfcNormalize(text: Column): Column =
    toCol(graft.functions.NfcNormalize(toExpr(text)))

  /** Accent folding (café→cafe; ß/ø pass through) — native NFD +
    * strip-marks expression, contract-identical to `strip_accents`. */
  def foldAccents(text: Column): Column =
    toCol(graft.functions.FoldAccents(toExpr(text)))

  /** Standard text cleanup: NFC, then whitespace runs collapsed to one
    * space, then trimmed. Composed from the native NFC expression and
    * codegen'd built-ins. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(nfcNormalize(text), "\\s+", " "))

  /** 64-bit SimHash over a token array (native expression, per-row). */
  def simhash64(toks: Column): Column =
    toCol(graft.functions.SimHash64(toExpr(toks)))

  /** Hamming distance between two packed 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Canonical URL for dedup keying: lowercased scheme and host, default
    * ports dropped (http:80 / https:443), fragment stripped, tracking
    * query parameters removed (utm_*, fbclid, gclid, ref), a lone
    * trailing slash trimmed off non-root paths, empty path → "/". NULL
    * for unparseable input (try_parse_url). Composed entirely from
    * codegen'd built-ins — per-row, no shuffle. Userinfo URLs
    * (user@host) keep their authority untouched apart from casing. */
  def canonicalUrl(url: Column): Column = {
    def part(p: String): Column =
      call_function("try_parse_url", url, lit(p))
    val proto = lower(part("PROTOCOL"))
    val authority = lower(part("AUTHORITY"))
    val port = regexp_extract(authority, ":(\\d+)$", 1)
    val hostPart = when(
      port === "" ||
        (proto === "http" && port === "80") ||
        (proto === "https" && port === "443"),
      regexp_replace(authority, ":\\d+$", ""))
      .otherwise(authority)
    val rawPath = coalesce(part("PATH"), lit(""))
    val path = when(rawPath === "", lit("/"))
      .when(length(rawPath) > 1 && rawPath.endsWith("/"),
        rawPath.substr(lit(1), length(rawPath) - 1))
      .otherwise(rawPath)
    // query params: drop tracking keys AND empty segments (a trailing
    // '?' or '&' must not make an equivalent URL a different dedup key),
    // keep original order of the rest
    val kept = filter(split(part("QUERY"), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)(=|$)"))
    val queryPart = when(part("QUERY").isNull || size(kept) === 0, lit(""))
      .otherwise(concat(lit("?"), concat_ws("&", kept)))
    when(proto.isNull || authority.isNull, lit(null).cast("string"))
      .otherwise(concat(proto, lit("://"), hostPart, path, queryPart))
  }

  /** HTML -> text cleanup for crawled corpora: script/style blocks
    * dropped whole, comments dropped, every remaining tag removed, the
    * predefined named entities unescaped (&amp; LAST, so "&amp;lt;"
    * yields the literal text "&lt;"), whitespace collapsed. Pure
    * codegen'd regexp expressions: per-row, no UDF, no shuffle. Not a
    * browser: malformed nesting degrades to leftover text, never an
    * error; numeric character references pass through untouched. */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq("quot" -> "\"", "apos" -> "'", "lt" -> "<",
      "gt" -> ">", "nbsp" -> " ", "amp" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) =>
        regexp_replace(c, s"&$e;", java.util.regex.Matcher.quoteReplacement(r))
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Repair UTF-8-read-as-Latin-1 mojibake ("Ã©" → "é", "Ã¼" → "ü"):
    * re-encode as Latin-1 and re-decode as UTF-8. Applied only when it
    * is safe AND indicated: every char is in the Latin-1 range (so the
    * re-encode is lossless), the telltale lead-byte pattern Ã/Â +
    * continuation char is present, and the round-trip produced no
    * replacement char (i.e. the bytes really were valid UTF-8). Clean
    * text — including genuine "Ã" followed by a non-continuation char —
    * passes through unchanged. Composed built-ins, codegen'd, per-row. */
  def fixMojibake(c: Column): Column = {
    val repaired = decode(encode(c, "ISO-8859-1"), "UTF-8")
    when(
      c.rlike("^[\\u0000-\\u00FF]*$") &&
        c.rlike("[\\u00C2\\u00C3][\\u0080-\\u00BF]") &&
        !repaired.contains("\uFFFD"),
      repaired).otherwise(c)
  }
}
