package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale corpus pipelines: token
  * counting, quality scoring, language identification, fingerprinting.
  *
  * All pure column expressions (codegen'd, no UDFs). Where a function is
  * also expressed as a DuckDB oracle, the building blocks are chosen for
  * cross-engine determinism: non-regex `replace` for substring counting,
  * `md5` for fingerprints (identical in both engines), whitespace-regex
  * split only where both regex engines agree on ASCII.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text; empty text -> empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish token count: word pieces plus standalone punctuation,
    * the `\w+|[^\w\s]` tokenizer families use as a pre-pass. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0))).cast("long")

  /** Occurrences of a literal substring — plain `replace` arithmetic so
    * the same expression is exactly reproducible in ANSI SQL. */
  def occurrences(c: Column, sub: String): Column =
    ((length(c) - length(replace(c, lit(sub), lit("")))) / sub.length).cast("long")

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(c: Column): Column = {
    val punct = Seq(".", ",", ";", ":", "!", "?")
    val stripped = punct.foldLeft(c)((acc, p) => replace(acc, lit(p), lit("")))
    round((length(c) - length(stripped)).cast("double") /
      greatest(length(c), lit(1)), 4)
  }

  /** Ratio of English stopwords to tokens — a cheap quality signal. */
  def stopwordRatio(c: Column): Column = {
    val stops = Seq("the", "a", "and", "of", "to", "in", "is")
    // Pad with spaces so only whole tokens count; parity-safe (replace).
    val padded = concat(lit(" "), c, lit(" "))
    val hits = stops.map(s => occurrences(padded, s" $s ")).reduce(_ + _)
    round(hits.cast("double") / greatest(tokenCount(c), lit(1)), 4)
  }

  /** Mean word length over whitespace tokens. */
  def avgWordLen(c: Column): Column =
    round(length(regexp_replace(trim(c), "\\s+", "")).cast("double") /
      greatest(tokenCount(c), lit(1)), 4)

  /** Composite quality score in [0,1]: long enough, not punctuation soup,
    * some stopword mass (the classic Gopher-style heuristics, reduced to
    * deterministic arithmetic). */
  def qualityScore(c: Column): Column = {
    val lenOk = when(length(c).between(50, 10000), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(c) < 0.2, 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(c) > 0.05, 1.0).otherwise(0.0)
    round((lenOk + punctOk + stopOk) / 3.0, 4)
  }

  // ---- fast variants ------------------------------------------------
  //
  // The composable definitions above run one `replace` chain per marker
  // (allocating a copy of the text per marker, per row). The fast
  // variants compute ALL marker counts AND their sum/argmax in one
  // zero-allocation pass via the native [[graft.functions.MultiOccTotal]]
  // / [[graft.functions.MultiOccBestGroup]] expressions — bit-compatible
  // with the composable twins (spec-proven) and with the
  // replace-arithmetic SQL oracles. Use these in pipelines; keep the
  // twins for cross-checks. The fusion has to reach the sum/argmax, not
  // stop at the counts array: N element_at's of one array expression
  // re-generate the child N times in Filter predicates (no
  // subexpression elimination there), and the element_at formulation
  // pushed the corpus-clean quality+langid filter past Janino's 64 KB
  // method limit — whole-stage codegen silently OFF on the hottest
  // document filter (CodegenGateSpec now pins that stage compiling).

  import graft.functions.MultiOccFunctions.{occurrencesBestGroup, occurrencesTotal}

  private val punct = Seq(".", ",", ";", ":", "!", "?")

  def punctRatioFast(c: Column): Column = {
    val hits = occurrencesTotal(c, punct)
    round(hits.cast("double") / greatest(length(c), lit(1)), 4)
  }

  private val stops = Seq("the", "a", "and", "of", "to", "in", "is")

  def stopwordRatioFast(c: Column): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    val hits = occurrencesTotal(padded, stops.map(s => s" $s "))
    round(hits.cast("double") / greatest(tokenCount(c), lit(1)), 4)
  }

  /** Raw stopword occurrence count — Gopher's "at least 2 stop words"
    * rule wants the count, not the ratio, and at that threshold an
    * off-by-one matters. Unlike [[stopwordRatioFast]] (whose shared-space
    * non-overlapping semantics are pinned by its SQL oracle twin), this
    * counts on a lowercased copy with every whitespace char doubled, so
    * adjacent repeats (" the the " = 2, not 1 — the single separator
    * would otherwise be consumed by the first match) and capitalized
    * forms ("The") both count. */
  def stopwordHitsFast(c: Column): Column = {
    val spaced = regexp_replace(lower(c), "\\s", "  ")
    val padded = concat(lit(" "), spaced, lit(" "))
    occurrencesTotal(padded, stops.map(s => s" $s "))
  }

  def qualityScoreFast(c: Column): Column = {
    val lenOk = when(length(c).between(50, 10000), 1.0).otherwise(0.0)
    val punctOk = when(punctRatioFast(c) < 0.2, 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatioFast(c) > 0.05, 1.0).otherwise(0.0)
    round((lenOk + punctOk + stopOk) / 3.0, 4)
  }

  def langIdFast(c: Column): Column = {
    val padded = concat(lit(" "), lower(c), lit(" "))
    // One native argmax over the whole marker table (first-wins ties,
    // -1 when no marker hits ⇒ "und" — the exact greatest/when-chain
    // semantics of the composable twin, spec-pinned equal); the
    // when-chain that remains compares one scalar against literals.
    val idx = occurrencesBestGroup(padded,
      langMarkers.flatMap(_._2).map(m => s" $m "),
      langMarkers.map(_._2.length))
    langMarkers.map(_._1).zipWithIndex.foldRight(lit("und")) {
      case ((lang, li), elseCol) => when(idx === li, lit(lang)).otherwise(elseCol)
    }
  }

  /** Content fingerprint (md5 of exact bytes) — exact-dedup key. */
  def fingerprint(c: Column): Column = md5(c)

  /** Marker-word language ID over a fixed language set. Scores each
    * language by whole-token marker hits and takes the argmax
    * (deterministic tie-break by list order). N-gram-free heuristic:
    * real corpora would extend the marker lists, the plan shape stays a
    * single narrow projection. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "est", "une"),
    "es" -> Seq("el", "los", "es", "una", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  def langScore(c: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(c), lit(" "))
    markers.map(m => occurrences(padded, s" $m ")).reduce(_ + _)
  }

  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(c, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), elseCol) =>
      when(s === best && best > 0, lit(lang)).otherwise(elseCol)
    }
  }
}
