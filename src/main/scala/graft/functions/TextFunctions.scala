package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

import graft.plans.{Md5Long60, SpanHashes}

/** Text-analysis primitives for large-scale corpus pipelines: token
  * counting, quality scoring, language-ID heuristics, fingerprinting.
  * All pure `Column` compositions (codegen'd, no UDFs) so they run at
  * scan speed over a 100 TB corpus and push no data to the driver.
  */
object TextFunctions {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word-n-gram shingles (n=3) as space-joined strings — the unit for
    * MinHash / Jaccard near-dup detection. Built from explicit
    * element_at accesses (null-safe), skipping slice-semantics
    * differences across engines.
    */
  def shingles3(toks: Column): Column =
    transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ",
        try_element_at(toks, i),
        try_element_at(toks, i + 1),
        try_element_at(toks, i + 2)))

  /** Word bigrams (same null-safe construction as [[shingles3]]). */
  def bigrams(toks: Column): Column =
    transform(sequence(lit(1), greatest(size(toks) - 1, lit(1))),
      i => concat_ws(" ",
        try_element_at(toks, i),
        try_element_at(toks, i + 1)))

  /** Occurrence count of tokens present in `vocab` (duplicates counted
    * — unlike array_intersect which dedups).
    */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(vocab.toArray), t)))

  /** BPE-ish token estimate: ceil(chars / 4). */
  def bpeEstimate(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  /** GPT-2-style pre-tokenizer regex (simplified, RE2-safe): letter
    * runs, digit runs, punctuation runs — the unit a byte-pair encoder
    * would merge within. Count via [[bpeTokens]] size.
    */
  val BpeSplitPattern = "[a-zA-Z]+|[0-9]+|[^\\sa-zA-Z0-9]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeSplitPattern), lit(0))

  /** Canonical document fingerprint: md5 of lowercased,
    * whitespace-collapsed text.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** The first 60 bits of md5(s) as a non-negative long
    * ([[graft.plans.Md5Long60]], SQL `md5_long60`): bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10).cast("long")`.
    */
  def md5Long60(s: Column): Column = column(Md5Long60(expression(s)))

  /** One `(start, h1, h2)` struct per full `width`-token window at
    * `stride` ([[graft.plans.SpanHashes]], SQL `span_hashes`): h1 and
    * h2 are `p` and `s` hex nibbles of the window's md5.
    */
  def spanHashes(toks: Column, width: Int, stride: Int, p: Int, s: Int): Column =
    column(SpanHashes(expression(toks), width, stride, p, s))

  /** PII scrub patterns (C4/CCNet-style pre-training redaction).
    * Deliberately RE2-safe syntax (character classes + quantifiers, no
    * backrefs/lookaround) so Java regex and RE2-based engines agree.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhonePattern = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Redact emails and phone numbers with fixed placeholder tokens —
    * scan-local regexp_replace, codegen'd, zero shuffle at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Occurrences of `pattern` in `text` (for PII audit counts). */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Language profiles for the n-gram/marker-word language-ID
    * heuristic. On real corpora these are per-language stopword lists;
    * the mechanism (per-profile hit count, argmax, deterministic
    * tie-break by profile order) is what the operator demonstrates.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "table", "merge"),
    "en" -> Seq("the", "a", "and", "row", "data"),
    "es" -> Seq("el", "la", "de", "query", "value"),
    "fr" -> Seq("le", "les", "et", "join", "filter"),
    "zh" -> Seq("spark", "hash", "batch"))

  /** Predicted language: profile with the max hit count; ties resolve
    * to the first profile in declaration order; zero hits anywhere →
    * "und" (otherwise the all-zero tie would mislabel as the first
    * profile).
    */
  def langId(toks: Column): Column = {
    val scores = langProfiles.map { case (l, vocab) => l -> vocabHits(toks, vocab) }
    val best = greatest(scores.map(_._2): _*)
    when(best === 0, lit("und")).otherwise(
      scores.foldRight(lit("und")) { case ((l, sc), acc) =>
        when(sc === best, lit(l)).otherwise(acc)
      })
  }
}
