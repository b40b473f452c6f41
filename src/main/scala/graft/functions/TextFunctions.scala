package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines
 * (builder-prompt extension beyond the reference surface): tokenization,
 * token counting, language ID, quality scoring, document fingerprinting.
 *
 * Everything is built from codegen'd `org.apache.spark.sql.functions`
 * (no UDFs): at 100 TB these run as pure map stages inside whole-stage
 * codegen with zero shuffles.
 */
object TextFunctions {

  /** Lower-cased alphanumeric-run tokens (a BPE-ish pre-tokenizer regex;
   *  kept RE2-compatible so external engines can replicate it). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Token count under the regex tokenizer. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Whitespace-delimited word count. */
  def wordCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** Collapse whitespace + lowercase — canonical form for hashing. */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Deterministic 128-bit document fingerprint (md5 of the normalized
   *  text) — the exact-dedup / caching key. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Word n-gram shingles: contiguous n-token windows joined by spaces;
   *  empty when the document has fewer than n tokens. One-pass native
   *  expression (see expressions.WordShingles). */
  def shingles(text: Column, n: Int): Column =
    expressions.VectorExpressions.wordShingles(tokens(text), n, distinct = false)

  /** Distinct shingles, first-occurrence order (≡ array_distinct(shingles)). */
  def shingleSet(text: Column, n: Int): Column =
    expressions.VectorExpressions.wordShingles(tokens(text), n, distinct = true)

  // --- language ID (n-gram/stopword heuristic) ---

  /** Small high-frequency function-word dictionaries per language. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "por", "con", "para", "del"))

  /** Per-language stopword hit count. */
  def langHits(text: Column, lang: String): Column = {
    val dict = stopwords(lang)
    size(filter(tokens(text), t => t.isin(dict.map(lit): _*).cast("boolean")))
  }

  /** Argmax language by stopword hits, ties broken by the fixed en>de>fr>es
   *  order, `und` (undetermined) when nothing hits. */
  def langId(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es")
    val hits = langs.map(l => langHits(text, l))
    val best = greatest(hits: _*)
    langs.zip(hits).foldRight(lit("und"): Column) { case ((l, h), acc) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  // --- quality scoring ---

  /** Punctuation characters per character. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[.,;:!?'\"()\\[\\]{}-]", "")))
        .cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Digit characters per character. */
  def digitRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Mean token length. */
  def meanWordLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /**
   * Composite quality score in [0,1]: favors mid-length documents with
   * word-like tokens and some function words, penalizes punctuation/digit
   * noise. Deterministic closed form (length/punct/stopword ratios) so any
   * SQL engine can replicate it bit-for-bit. The three token passes
   * (count, total chars, stopword hits) are fused into ONE native
   * expression (expressions.TokenStats) — integer counts, so the result
   * is bit-identical to the unfused formulas.
   */
  def qualityScore(text: Column): Column = {
    val all = stopwords.values.flatten.toSeq.distinct
    val st = expressions.VectorExpressions.tokenStats(tokens(text), all)
    val n = st.getField("token_count")
    val wordLen = when(n > 0,
      st.getField("total_chars").cast("double") / n).otherwise(lit(0.0))
    val sw = when(n > 0,
      st.getField("stop_hits").cast("double") / n).otherwise(lit(0.0))
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val wordLenScore = when(wordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    val swScore = least(sw * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val digitPenalty = least(digitRatio(text) * 5.0, lit(1.0))
    round(lenScore * 0.3 + wordLenScore * 0.2 + swScore * 0.2 +
      (lit(1.0) - punctPenalty) * 0.15 + (lit(1.0) - digitPenalty) * 0.15, 6)
  }

  // --- corpus cleanup: markup stripping + PII redaction ---

  /**
   * Strip HTML/XML markup: script/style blocks removed wholesale, tags
   * dropped, the common entities decoded (`&amp;` last, so entity-encoded
   * entities don't double-decode), whitespace collapsed. Regex-only and
   * RE2-compatible (no backreferences) — a pure codegen map stage that
   * external engines replicate exactly. Deliberately NOT a full HTML
   * parser; neither are the standard C4-style cleanup pipelines.
   */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    regexp_replace(trim(decoded), "\\s+", " ")
  }

  /**
   * Redact common PII with typed placeholders: emails, 16-digit
   * card-like numbers, phone-like digit runs, IPv4 addresses — the
   * standard pre-training scrub. Regex heuristics (the industry
   * baseline, not a guarantee), RE2-compatible for oracle parity.
   * Order matters and is fixed: email → card → phone → ip.
   */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val card = regexp_replace(email, "\\b(?:\\d[ -]?){15}\\d\\b", "<CARD>")
    val phone = regexp_replace(card,
      "\\+?\\d{2,4}(?:[ -]\\d{2,4}){2,5}|\\b\\+?\\d{8,12}\\b", "<PHONE>")
    regexp_replace(phone, "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
  }

  // --- repetition signals (Gopher-style quality heuristics) ---

  /** Non-empty lines of a document (whitespace-only lines dropped). */
  def lines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /**
   * Within-document repetition signals, the Gopher/MassiveText family of
   * quality heuristics (Rae et al. 2021 §A1.1): heavily self-repetitive
   * documents (boilerplate, scraped nav bars, keyword stuffing) are
   * low-quality training data even when no OTHER document duplicates
   * them — inter-document dedup can't catch this. Three fractions, each
   * `(n − n_distinct) / n` over a different granularity:
   *  - `dup_line_frac`  — repeated non-empty lines;
   *  - `dup_word_frac`  — repeated tokens (high = tiny vocabulary);
   *  - `dup_3gram_frac` — repeated word 3-grams (loops / stuffing).
   * Integer counts and one IEEE division — any engine replicates the
   * doubles bit-for-bit. A pure per-row map stage: no shuffle. The six
   * counts come from ONE fused native pass over the text
   * (expressions.RepetitionStats) instead of four interpreted
   * higher-order passes with intermediate arrays; the spec pins the
   * fused form bit-identical to this declarative formula.
   */
  def repetitionSignals(text: Column): Column = {
    val st = expressions.VectorExpressions.repetitionStats(text)
    def frac(count: Column, distinct: Column): Column =
      when(count > 0, (count - distinct).cast("double") / count)
        .otherwise(lit(0.0))
    struct(
      frac(st.getField("line_count"), st.getField("line_distinct"))
        .as("dup_line_frac"),
      frac(st.getField("token_count"), st.getField("token_distinct"))
        .as("dup_word_frac"),
      frac(st.getField("gram3_count"), st.getField("gram3_distinct"))
        .as("dup_3gram_frac"))
  }

  /** Polynomial rolling hash of the token stream (Rabin-Karp style,
   *  base 31, mod 2^61-1) — an order-sensitive content fingerprint. */
  def rollingHash(text: Column): Column = {
    val mod = 2305843009213693951L // 2^61-1
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 31 + crc32(t.cast("binary")).cast("long"), lit(mod)))
  }

  /**
   * GPT-2-style BPE pre-tokenizer pattern: contractions, optional-space
   * letter runs, optional-space digit runs, optional-space punctuation
   * runs, whitespace runs. Deliberately restricted to the RE2-compatible
   * subset (the upstream pattern's `\s+(?!\S)` lookahead is dropped —
   * trailing-space attachment differs on multi-space gaps only), so
   * external engines replicate token boundaries exactly. Case is kept,
   * unlike [[tokens]] — BPE vocabularies are case-sensitive.
   */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token pieces under the BPE pre-tokenizer (array of strings). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Piece count under the BPE pre-tokenizer — the token-budget estimate
   *  a trainer actually bills by, vs the word-ish [[tokenCount]]. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))
}
