package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * tokenization, quality metrics, language-ID scoring, fingerprints.
  * All pure Column compositions (codegen'd, no UDFs) — they run inside
  * whole-stage codegen over a 100 TB documents table.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count (whitespace-delimited words). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens found in a stop-list. */
  def stopwordCount(text: Column, stops: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stops.map(lit(_)): _*)))

  /** BPE-style pre-tokenizer count: letter runs, digit runs, and
    * punctuation runs, each optionally space-prefixed — the GPT-2
    * pre-tokenization shape restricted to character classes that Java
    * regex (Spark) and RE2 (DuckDB) interpret identically, so the count
    * is oracle-comparable. The whitespace class is spelled out because
    * `\s` itself is NOT portable: Java includes U+000B (vertical tab),
    * RE2's is exactly [ \t\n\f\r] — with the explicit class both
    * engines classify VT as punctuation by construction. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\f\\r]+"), lit(0)))

  /** Sum of token lengths (chars excluding whitespace). */
  def tokenCharCount(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t)), lit(0), (acc, x) => acc + x)

  /** Canonical-form fingerprint: md5 of lower-cased,
    * whitespace-collapsed text — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** [[fingerprint]]'s canonicalization as a JVM kernel — for typed
    * streaming state keys that must be bit-identical to the column
    * form. Spark's `trim` strips ONLY ' ' (Java's `String.trim` also
    * strips \t/\n and would diverge on tab-padded text), and the
    * lower-casing is locale-free like Spark's UTF8String path. */
  def canonicalForm(text: String): String =
    text.replaceAll("\\A +| +\\z", "")
      .toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ")

  /** PII patterns restricted to the Java-regex ∩ RE2 common subset
    * (character classes, bounded repeats, `\b` — no lookaround, no
    * backrefs), so Spark and an ANSI oracle tokenize identically.
    * Deliberately recall-oriented simple shapes: a production scrub
    * pass tunes these per corpus; the operator contract (count +
    * sequential mask) is what the engine provides. */
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe: String = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val ipv4Re: String = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"

  /** Sequential PII masking: email → phone → IPv4 (emails are masked
    * first so their digit-bearing domains can't later be half-matched
    * as addresses). Pure codegen'd projection. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipv4Re, "<IP>")

  /** Match count for one PII pattern (group 0 = whole match). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Winnowing modulus: a prime below 2^20 keeps every gram hash small
    * and identically computable as BIGINT `%` in Spark and DuckDB. */
  val winnowMod: Long = 1048573L

  /** 31^(k-1) .. 31^0 — the positional weights of a base-31 polynomial
    * rolling hash (Karp–Rabin). Overflow bound: Σ code·31^j ≤
    * code_max · 31^k/30, which stays under 2^63 for k ≤ 9 with
    * arbitrary code points (max U+10FFFF ≈ 1.1e6; 31^9·1.1e6/0.97 ≈
    * 3e19 overflows at k = 10) and for k ≤ 12 with ASCII-only text.
    * [[gramHash]] enforces the unconditional k ≤ 9 so the sum is
    * ANSI-safe (no checked-arithmetic error, no silent divergence)
    * whatever the corpus contains. */
  def pow31(k: Int): Seq[Long] = Iterator.iterate(1L)(_ * 31L).take(k).toSeq.reverse

  /** Polynomial rolling hash of the k-char gram at 1-based position `i`
    * of canonical text `t`: (Σ_j code(t[i+j])·31^(k−1−j)) mod winnowMod.
    * Unrolled into k `ascii(substr)` terms so the whole thing is one
    * codegen'd long expression — no UDF, no array materialization. */
  def gramHash(t: Column, i: Column, k: Int): Column = {
    require(k <= 9, s"gramHash k=$k would overflow the long sum for " +
      "non-ASCII code points (see pow31's bound); use k <= 9")
    val pows = pow31(k)
    (0 until k).map(j => ascii(t.substr(i + lit(j), lit(1))) * lit(pows(j)))
      .reduce(_ + _) % lit(winnowMod)
  }

  /** Word n-gram shingles (space-joined), distinct per document —
    * the unit set for Jaccard/MinHash near-dup detection. */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    // slide an index window: shingle i = tokens[i..i+n-1]; sequence()
    // descends when stop < start, so guard short documents explicitly
    when(size(ts) >= n,
      array_distinct(
        transform(sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Integer value (0–15) of the 1-based `i`-th digit of a lowercase
    * hex string — pure ascii arithmetic ('0'-'9' → 48–57, 'a'-'f' →
    * 97–102), so Spark and DuckDB evaluate it identically (neither
    * engine shares a hex-parse builtin the other has). */
  def hexNibble(h: Column, i: Int): Column = {
    val a = ascii(substring(h, i, 1))
    when(a >= 97, a - 87).otherwise(a - 48)
  }

  /** 16-bit value of hex digits [from, from+3] of `h`, reduced mod
    * 1000 — the deterministic permille-bucketing primitive for corpus
    * split assignment and downsampling. Bucketing the CONTENT
    * fingerprint (not the doc id) makes splits leakage-safe: byte-equal
    * documents land in the same bucket by construction, so an exact
    * duplicate can never straddle train/test.
    *
    * Spark side parses the 4-digit slice with one `conv` call; the
    * DuckDB oracle replays the [[hexNibble]] ascii arithmetic (it has
    * no base-16 `conv`). Value-identical — the contract is the number,
    * not the expression: the nibble chain references `h` 12 times, and
    * when `h` is an inlined md5 of a hot column, codegen's
    * subexpression elimination will not hoist it through the CASE
    * branches, so the hash runs 12x per row (measured 5x wall-clock on
    * the q73 feature stream). */
  def hexBucket(h: Column, from: Int): Column =
    conv(substring(h, from, 4), 16, 10).cast("int") % 1000

  /** Simple stop-list language scorer: hits per language stop-list.
    * Deterministic heuristic (n-gram/statistical LID is a model concern;
    * the engine-side capability is the scoring plumbing). */
  val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "de", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** Predicted language: argmax of stop-list hits with deterministic
    * precedence (first in `langStops` wins ties); "und" if no hits. */
  def langPredict(text: Column): Column = {
    val scores = langStops.map { case (l, stops) => l -> stopwordCount(text, stops) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, sc), acc) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
  }
}
