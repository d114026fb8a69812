package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (the driver's north-star
  * extensions over the reference's event/text data model). Everything is built from
  * codegen'd built-in expressions — no UDFs — so at 100 TB these run inside
  * WholeStageCodegen directly over the parquet scan with full column pruning.
  */
object TextAnalysis {

  /** Whitespace tokenization (single-space split; deterministic, oracle-matchable). */
  def tokens(text: Column): Column = split(text, " ")

  /** Order-preserving first-occurrence dedup of a line/paragraph array —
    * the WITHIN-document repeated-paragraph removal step (the Dolma/C4
    * cleanup that precedes cross-document dedup: nav chrome and footers
    * repeat inside a single crawled page too). Keeps element i iff no
    * earlier element equals it; null elements are dropped (array_position
    * cannot locate them — document lines are non-null by construction).
    * Pure per-row scalar → scan-side at any corpus size, streaming-safe. */
  def firstOccurrences(arr: Column): Column =
    filter(arr, (l, i) => array_position(arr, l) === i + 1)

  /** BPE-ish subword-boundary token count: splits on whitespace AND letter/digit/
    * punctuation boundaries, approximating byte-pair tokenizer granularity. */
  def bpeishTokens(text: Column): Column =
    split(text, "\\s+|(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|(?=[^a-zA-Z0-9\\s])|(?<=[^a-zA-Z0-9\\s])")

  def tokenCount(text: Column): Column = size(tokens(text))
  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Character-class ratios used for quality scoring. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))
  def upperCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[A-Z]", ""))
  def whitespaceCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\s", ""))

  /** Stopword ratio over a fixed English stopword list (public; standard NLP set). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "are", "was", "be", "for", "on", "with", "as", "at", "by", "it", "this")

  def stopwordCount(text: Column): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isin(stopwords: _*)))
  }

  /** Heuristic quality score in [0,1]: rewards mid-length docs, word diversity and
    * stopword presence; penalizes punctuation/digit noise. Deterministic arithmetic
    * (integer counts + fixed-order double ops) so it is reproducible across runs,
    * partitionings, and engines. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChar = length(text).cast("double")
    val diversity = distinctTokenCount(text) / greatest(nTok, lit(1.0))
    val stopRatio = stopwordCount(text) / greatest(nTok, lit(1.0))
    val punctRatio = punctCount(text) / greatest(nChar, lit(1.0))
    val digitRatio = digitCount(text) / greatest(nChar, lit(1.0))
    val lengthOk = when(nTok.between(5, 5000), lit(1.0)).otherwise(lit(0.5))
    least(lit(1.0), greatest(lit(0.0),
      lit(0.35) * diversity + lit(0.25) * least(stopRatio * 4, lit(1.0)) +
        lit(0.4) * lengthOk - punctRatio - digitRatio))
  }

  /** Language-ID over a tiny per-language stopword table (n-gram-free heuristic;
    * argmax of stopword hits). Ties break by language code order for determinism. */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "una", "por", "que", "con"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  def languageId(text: Column): Column = {
    val toks = tokens(lower(text))
    // score per language, pick argmax via greatest over (score, lang) structs
    val scored = langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"),
        lit(lang).as("lang"))
    }
    greatest(scored: _*).getField("lang")
  }

  /** Content-defined document fingerprint: modular polynomial rolling hash of the
    * normalized token stream (order-sensitive, whitespace-insensitive). Per-token
    * hash = first 60 bits of md5 reduced mod 2^32; roll = (acc*31 + h) mod 2^40 —
    * every intermediate stays far below Long.Max, so the fold is exact under ANSI
    * arithmetic AND reproducible in any engine with md5 + integer ops (the DuckDB
    * oracle computes it verbatim; rotate/xor formulations are not portable because
    * SQL engines differ on shift overflow semantics). */
  def fingerprint(text: Column): Column =
    aggregate(tokens(lower(trim(text))), lit(7919L),
      (acc, t) => (acc * 31 + conv(substring(md5(t), 1, 15), 16, 10).cast("long") % 4294967296L)
        % 1099511627776L)

  /** PII redaction for training-data pipelines: email addresses, US-style
    * phone numbers, SSN-shaped ids, IPv4 addresses, and 13–19-digit card-like
    * number runs are replaced with typed placeholder tags, applied in one
    * fixed order (email first: phone/number patterns must not eat pieces of
    * an address). Pure regexp_replace chain — codegen'd, zero shuffle, and
    * the same five regexes replay verbatim in the SQL oracle. Pattern set is
    * deliberately conservative/public (regex-only PII scrubbing is a
    * best-effort pre-filter, not a guarantee — the standard caveat). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\+?1[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b" -> "<PHONE>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<SSN>",
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
    "\\b[0-9]{13,19}\\b" -> "<CARDNUM>")

  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Count of redactions by kind — the audit signal a scrubbing pipeline
    * reports per document. */
  def piiCounts(text: Column): Column = {
    val redacted = redactPii(text)
    struct(piiPatterns.map { case (_, tag) =>
      ((length(redacted) - length(regexp_replace(redacted,
        java.util.regex.Pattern.quote(tag), ""))) / tag.length)
        .cast("int").as(tag.stripPrefix("<").stripSuffix(">").toLowerCase)
    }: _*)
  }

  /** Word k-shingles over an already-materialized token-array column (distinct), the
    * MinHash input unit.
    *
    * IMPORTANT perf contract: pass an *attribute* (a column materialized by a previous
    * projection), not a nested split(...) expression — Catalyst inlines expression
    * arguments into every lambda element evaluation, turning O(n) into O(n²) per row
    * and blowing past codegen limits (observed: 100× slowdowns in interpreted mode). */
  def shinglesOf(toks: Column, k: Int = 3): Column = {
    val n = size(toks)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(0), n - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Convenience text→shingles (tokenizes inline; fine for small/ad-hoc use — for
    * pipelines materialize tokens first and call shinglesOf, see perf note there). */
  def shingles(text: Column, k: Int = 3): Column = shinglesOf(tokens(lower(text)), k)

  /** Contamination-check kernel: struct(hits, nsh) — how many `probes`
    * appear among the doc's distinct k-shingles, and the distinct-shingle
    * count. One-pass hash-set expression (no shingle-array
    * materialization, no double intersect); string equality only. */
  def shingleStats(toks: Column, probes: Seq[String], k: Int = 3): Column =
    call_function("graft_shingle_stats", toks, array(probes.map(lit): _*), lit(k))

  // --- repetition metrics (Gopher-style quality filters over token streams) ---

  /** Gopher-style repetition filter signals per document:
    * dup_token_fraction (1 − distinct/total), top_token_fraction (mode
    * multiplicity / total), top_bigram_fraction, dup_bigram_fraction.
    * Training-data pipelines drop documents above thresholds on these. All
    * ratios are exact-integer divisions evaluated once per row — same IEEE
    * result in the DuckDB oracle. One-pass counting kernel (RepetitionStats).
    * Pass a MATERIALIZED token array attribute (see shinglesOf's perf
    * contract). */
  def repetitionMetrics(toks: Column): Column =
    call_function("graft_repetition_stats", toks)

  /** Character n-grams (distinct) for n-gram Jaccard similarity. */
  def charNgrams(text: Column, n: Int = 3): Column = {
    val t = lower(text)
    array_distinct(
      when(length(t) >= n,
        transform(sequence(lit(1), length(t) - n + 1), i => t.substr(i, lit(n))))
        .otherwise(array(t)))
  }

  /** Canonicalize a URL for dedup keying — the standard crawl-pipeline
    * normalization (RFC 3986 §6 syntax-based normalization plus the usual
    * tracking-parameter scrub):
    *   1. drop the fragment;
    *   2. lowercase scheme://authority;
    *   3. drop default ports (:80 http, :443 https);
    *   4. drop tracking params (utm_*, gclid, fbclid), sort the survivors;
    *   5. strip trailing slashes from the path.
    * Pure regex + array-HOF chain: codegen'd, zero shuffle, deterministic —
    * two syntactic variants of one resource map to one dedup key. */
  def urlNormalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val prefix = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val auth = regexp_replace(
      regexp_replace(prefix, "^(http://[^/:]*):80$", "$1"),
      "^(https://[^/:]*):443$", "$1")
    val full = concat(auth, rest)
    val path = regexp_replace(regexp_extract(full, "^([^?]*)", 1), "/+$", "")
    val q = regexp_extract(full, "\\?(.*)$", 1)
    val params = filter(split(q, "&"),
      p => !p.rlike("^(utm_[A-Za-z0-9_]*|gclid|fbclid)=") && p =!= "")
    val qs = array_join(sort_array(params), "&")
    when(q === "" || qs === "", path).otherwise(concat(path, lit("?"), qs))
  }
}
