package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, fingerprinting, language-ID and quality scoring.
  *
  * Everything here is a pure column expression built from codegen'd
  * built-ins (`org.apache.spark.sql.functions`) — no UDFs, no shuffles; all
  * of it runs inside whole-stage codegen and scales linearly with input
  * splits. The regexes use explicit ASCII classes so results are
  * reproducible across engines (Java regex vs RE2 differ on `\W` unicode
  * semantics).
  */
object TextFunctions {

  /** Whitespace-collapsed, lower-cased canonical text. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Pipeline text cleaner (the C4-style scrub, case-preserving): strip
    * ASCII control characters, squeeze shouting punctuation runs
    * (`!!!!!` → `!!`, `???` → `??`, `....`+ → `...`), collapse runs of
    * spaces, trim. Every rule is an explicit character-class regex with
    * counted repetition — NO backreferences, so the exact same patterns
    * run under Java regex (Spark) and RE2 (DuckDB/Go engines) with
    * identical results. Scan-local, codegen'd, zero shuffle.
    */
  def cleanText(text: Column): Column = {
    val noCtl = regexp_replace(text, "[\\x00-\\x1f\\x7f]", " ")
    val squeezed = regexp_replace(
      regexp_replace(regexp_replace(noCtl,
        "!{3,}", "!!"), "\\?{3,}", "??"), "\\.{4,}", "...")
    trim(regexp_replace(squeezed, " +", " "))
  }

  /** Lower-cased alphanumeric tokens (empty strings filtered). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Token count — whitespace+punct tokenizer. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish sub-word proxy: count of character n-chunks — splits on word
    * boundaries AND digit/letter transitions, the common pre-tokenizer shape.
    */
  def subwordCount(text: Column, chunk: Int = 4): Column =
    aggregate(tokens(text), lit(0),
      (acc, t) => acc + ceil(length(t).cast("double") / chunk).cast("int"))

  /** Word n-gram shingles from an already-materialized token-array column.
    * IMPORTANT: pass a *column reference*, not a tokenizer expression — a
    * subtree captured by the `slice` lambda is re-evaluated once per array
    * element (Spark HOFs are interpreted), turning one tokenization per row
    * into one per shingle. Guarded so short docs yield an empty set rather
    * than a reversed `sequence`.
    */
  def shinglesFromTokens(t: Column, n: Int = 3): Column =
    array_distinct(
      when(size(t) >= n,
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
        .otherwise(array()))

  /** Convenience one-shot shingling; for hot paths prefer projecting
    * [[tokens]] first and calling [[shinglesFromTokens]] on the reference.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Document fingerprint: md5 of the canonical text — the exact-dedup key.
    * (Cross-engine stable; both Spark and DuckDB ship md5.)
    */
  def fingerprint(text: Column): Column = md5(normText(text))

  /** Rolling polynomial hash over tokens (Karp-Rabin style, base 257 mod
    * 1e9+7) — an order-sensitive fingerprint that, unlike [[fingerprint]],
    * can be computed incrementally over windows. Pure fold, codegen'd.
    * Modulus keeps acc*257 + h < 2^40, safe under ANSI overflow checking.
    *
    * `tokenHash` is pluggable on the d_simhash_md5 pattern: the default
    * xxhash64 is the fast path; an md5-derived hasher makes the whole
    * fingerprint reproducible in engines without xxhash64 (the
    * t_rolling_hash_md5 oracle).
    */
  def rollingHash(text: Column,
                  tokenHash: Column => Column = xxhash64(_)): Column = {
    val mod = 1000000007L
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(257L) + pmod(tokenHash(t), lit(mod)), lit(mod)))
  }

  /** Character-level Karp-Rabin polynomial fingerprint of the canonical
    * text: Horner fold `acc = (acc*31 + charCode) mod 1e9+7` over the
    * characters of [[normText]]. Same family as [[rollingHash]] but built
    * only from arithmetic both Spark and DuckDB evaluate identically, so it
    * is oracle-checkable cross-engine (xxhash64 is Spark-only).
    */
  def polyFingerprint(text: Column): Column = {
    val mod = 1000000007L
    aggregate(transform(split(normText(text), ""), ch => ascii(ch).cast("long")),
      lit(0L), (acc, b) => pmod(acc * 31L + b, lit(mod)))
  }

  /** Stopword marker sets for the n-gram/stopword language heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "que"),
    "es" -> Seq("el", "de", "que", "y", "los", "una", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you", "ta"))

  /** Count of tokens that hit a marker set. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers)))

  /** Language-ID heuristic: argmax marker-hit count, ties broken by lang
    * code, "und" (undetermined) when nothing matches. Emitted as a single
    * expression tree — still codegen-friendly.
    */
  def langId(text: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      struct(markerHits(text, ms).as("hits"), lit(lang).as("lang"))
    }
    // max by (hits, reversed-lang) — ties pick lexicographically-first lang
    val best = scored.reduce { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality scoring: length / punctuation / stopword / repetition ratios,
    * composed into one [0,1] score. All ratios are exposed individually so
    * pipelines can filter on components.
    */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0.0).otherwise(
      (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / n.cast("double"))
  }

  /** Distinct-token / token ratio — collapses near-1.0 for natural text,
    * small for degenerate repetition.
    */
  def uniqueRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, 0.0)
      .otherwise(size(array_distinct(t)).cast("double") / size(t).cast("double"))
  }

  /** Composite quality score in [0,1]:
    * length saturation * (1 - punct excess) * repetition sanity.
    */
  def qualityScore(text: Column): Column = {
    val lenSat = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    val punctOk = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    lenSat * punctOk * uniqueRatio(text)
  }
}
