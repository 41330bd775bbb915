package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines:
  * tokenization, quality features, language-ID scoring, shingling and
  * fingerprint hashes. Pure codegen'd column expressions — per-row, no
  * shuffle, no UDFs — so they fuse into the document scan at any scale.
  */
object TextFunctions {

  /** Whitespace tokenization; empty/null text → empty array. */
  def tokens(text: Column): Column = {
    val t = trim(coalesce(text, lit("")))
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Word-count on whitespace tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word token count: runs of word chars OR single non-space
    * symbols — a cheap deterministic proxy for subword tokenizer counts. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  /** Punctuation ratio: non-alphanumeric-non-space chars / all chars. */
  def punctRatio(text: Column): Column = {
    val len = length(coalesce(text, lit("")))
    when(len === 0, 0.0).otherwise(
      length(regexp_replace(coalesce(text, lit("")), "[A-Za-z0-9\\s]", ""))
        .cast("double") / len.cast("double"))
  }

  /** Fraction of tokens found in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(lower(text))
    val n = size(toks)
    when(n === 0, 0.0).otherwise(
      size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
        / n.cast("double"))
  }

  /** Heuristic document quality score in [0,1]: rewards mid-length docs
    * and stopword presence, penalizes punctuation noise. Deterministic
    * arithmetic only (no floating accumulation across rows). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 64.0, lit(1.0))
    val stopScore = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
    // floor-truncate to 6 dp instead of round(): round ties differ across
    // engines (Spark HALF_UP vs DuckDB half-even); floor is pure IEEE.
    floor((lenScore + stopScore + punctPenalty) / 3.0 * 1e6) / 1e6
  }

  /** Fraction of tokens taken by the single most frequent token — the
    * Gopher-style "top word" repetition signal (high values flag
    * boilerplate/spam). Per-row expression: counting each DISTINCT token
    * against the token array is O(distinct × tokens) per document, which
    * is the right trade for web-scale corpora (documents are short; the
    * alternative — explode + groupBy + window — shuffles every token of
    * every document twice for a per-row statistic). */
  def topTokenFraction(text: Column): Column =
    topTokenFractionFromTokens(tokens(lower(text)))

  /** [[topTokenFraction]] over a pre-projected token attribute — the form
    * hot paths should use (see [[tokenShingles]] on the HOF re-eval trap:
    * `toks` appears inside two nested lambdas here). */
  def topTokenFractionFromTokens(toks: Column): Column = {
    val n = size(toks)
    when(n === 0, 0.0).otherwise(
      array_max(transform(array_distinct(toks),
        d => size(filter(toks, t => t === d)))).cast("double")
        / n.cast("double"))
  }

  /** Fraction of n-gram OCCURRENCES that are repeats of an earlier
    * occurrence: 1 − distinct/total over the raw (non-deduped) n-gram
    * stream — the Gopher "duplicate n-gram" repetition signal. 0.0 for
    * empty docs; docs shorter than n count as one n-gram (fraction 0). */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramFractionFromTokens(tokens(lower(text)), n)

  /** [[dupNgramFraction]] over a pre-projected token attribute. */
  def dupNgramFractionFromTokens(toks: Column, n: Int): Column = {
    val total = greatest(size(toks) - (n - 1), lit(1))
    val grams = transform(sequence(lit(1), total),
      i => array_join(slice(toks, i, lit(n)), " "))
    when(size(toks) === 0, 0.0).otherwise(
      (total - size(array_distinct(grams))).cast("double")
        / total.cast("double"))
  }

  /** Fraction of whitespace tokens that are links (http/https/www
    * prefixes, case-folded) — the C4/Gopher-style boilerplate signal:
    * link farms and navigation chrome score high, prose scores ~0.
    * Per-row expression, fuses into the scan. */
  def linkDensity(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = size(toks)
    when(n === 0, 0.0).otherwise(
      size(filter(toks, t =>
        t.startsWith("http://") || t.startsWith("https://") || t.startsWith("www.")))
        .cast("double") / n.cast("double"))
  }

  /** Unicode NFC canonicalization (native
    * [[graft.expressions.NfcNormalize]]): run BEFORE any hashing/dedup —
    * precomposed vs combining-mark encodings of the same visible text
    * hash differently and silently defeat exact dedup otherwise. ASCII
    * rows take a no-allocation fast path. */
  def nfcNormalize(text: Column): Column =
    graft.expressions.NfcNormalize(text)

  /** Redact personally-identifiable substrings, the pre-training scrub
    * every public corpus pipeline applies before anything else: emails,
    * IPv4 addresses, US-style phone numbers, and 13–19-digit runs
    * (card/account numbers). Chained codegen'd regexp_replace — one scan
    * pass, no shuffle. Patterns are deliberately RE2-compatible (no
    * backreferences/lookaround) so the same regexes run in any engine.
    * Order matters: emails first (an email can contain digit runs), digit
    * runs last (phone match consumes separators a digit run would split). */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(coalesce(text, lit("")),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    // no leading \b: the optional "(" is itself a non-word char, so a
    // boundary assertion before it can never hold after a space
    val phone = regexp_replace(ip,
      "(?:\\+?1[-. ])?(?:\\(\\d{3}\\)[-. ]?|\\b\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b", "<PHONE>")
    regexp_replace(phone, "\\b\\d{13,19}\\b", "<NUMBER>")
  }

  /** [[shingles]] over a PRE-TOKENIZED (already case-folded) token array —
    * the native [[graft.expressions.TokenShingles]] expression (codegen'd
    * single pass; see its scaladoc).
    *
    * Callers doing heavy shingling should still project the token array
    * in a SEPARATE select and pass the resulting attribute — the HOF
    * re-evaluation trap [[langIdFromTokens]] documents bit the old HOF
    * form of this function badly (a raw tokenization expression inside
    * the transform lambda re-ran the regex split once PER SHINGLE;
    * 13.2 s → sub-second at sf0.1 for q37's shingle pass), and even with
    * the native form a projected token attribute is what lets sibling
    * shingle/signal columns share one tokenization. Null-array input is
    * the one semantic difference from [[tokenShinglesHof]]: native → null,
    * HOF → [null]; unreachable from [[tokens]], which never yields null. */
  def tokenShingles(toks: Column, n: Int): Column =
    graft.expressions.TokenShingles(toks, n)

  /** The readable HOF reference form of [[tokenShingles]] — byte-identical
    * output (TextFunctionsSpec asserts it), but interpreted: HOFs never
    * enter codegen and this dispatches a lambda + allocates a slice and a
    * join buffer per window. Kept as the executable spec of the native
    * expression's semantics. */
  def tokenShinglesHof(toks: Column, n: Int): Column = {
    val count = greatest(size(toks) - (n - 1), lit(1))
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), count),
        i => array_join(slice(toks, i, lit(n)), " "))))
  }

  /** N-gram token shingles: array of space-joined n-token windows; docs
    * shorter than n yield the whole doc as one shingle. Convenience form
    * for one-shot use — hot paths should pre-project tokens and call
    * [[tokenShingles]] (see its scaladoc). */
  def shingles(text: Column, n: Int): Column =
    tokenShingles(tokens(lower(text)), n)

  /** One MinHash value: the minimum md5 hex over the shingle set, salted by
    * `seed`. Hex-string min is a total order identical in every engine, so
    * signatures are engine-portable (DuckDB-oracle-checkable). This HOF
    * form is the readable reference; the hot path uses the native
    * [[graft.expressions.MinHashSig]] (byte-identical, asserted in
    * VectorAndSimilaritySpec). */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(seed + ":"), s))))

  /** k-wide MinHash signature as array<string> — native single-pass
    * expression (one reused digest, no per-shingle lambda dispatch or
    * intermediate arrays; see MinHashSig scaladoc). */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.expressions.VectorExpressions.minhashSig(shingleCol, k)

  /** LSH band keys: hash `rowsPerBand` consecutive signature entries per
    * band → array<string> of band bucket keys (band index is baked into
    * the key so buckets never collide across bands).
    *
    * Pass the signature as a PROJECTED ATTRIBUTE, not a raw expression:
    * the transform lambda slices `signature` per band, so an inline
    * MinHashSig argument re-runs its whole k·|shingles| md5 pass once
    * per band plus once per size() reference (~6× per document at k=8,
    * r=2) — the [[tokenShingles]] re-eval trap one level up. Measured:
    * the q37 banding projection 2.6 s → 0.2 s at sf0.1 after moving the
    * signature into its own select. */
  def bandKeys(signature: Column, rowsPerBand: Int): Column = {
    // guard: size < rowsPerBand would make sequence(0, -1) descend and
    // emit a spurious negative-index band — short signatures get 0 bands.
    // floor+cast keeps the sequence bounds integral (Column `/` is double
    // division, which sequence() rejects).
    val nBands = floor(size(signature) / lit(rowsPerBand)).cast("int")
    when(nBands <= 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), nBands - 1),
        b => md5(concat(b.cast("string"), lit("|"),
          array_join(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)), "|")))))
  }

  /** 32-bit SimHash over whitespace tokens: per-token 32-bit hash; each bit
    * position accumulates +1/-1; the sign vector is the fingerprint.
    * Returned as a non-negative long (< 2^32).
    *
    * Per-token hash is [[graft.expressions.Md5Hash32]] — the first 4 md5
    * bytes as an unsigned int, native and ENGINE-PORTABLE (any SQL engine:
    * `('0x' || substr(md5(t), 1, 8))::UBIGINT`), so the whole SimHash path
    * is DuckDB-oracle-checkable (q24). [[graft.expressions.SimHashMix]]
    * then does the 32-bit sign mix natively — the pure-HOF formulation
    * re-evaluated the hash once per BIT and took 350 s over 5k docs at
    * sf0.1. */
  def simhash(text: Column): Column = {
    val toks = tokens(lower(text))
    graft.expressions.VectorExpressions.simhashMix(
      graft.expressions.VectorExpressions.md5Hash32(toks))
  }

  /** Hamming distance between two simhash longs (≤ 64 bits). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Rolling-hash document fingerprint: md5 of the MinHash signature —
    * a single stable id for near-identical content. */
  def fingerprint(text: Column, k: Int = 8): Column =
    md5(array_join(minhashSignature(shingles(text, 3), k), "|"))

  /** Language-ID by stopword-hit scoring: the language whose marker list
    * hits the most tokens wins; ties break to the lexicographically last
    * language code; no hits → "und". Marker lists are literal arrays.
    *
    * Callers should tokenize in a SEPARATE projection and pass the token
    * array here (see q26): higher-order functions are interpreted, so the
    * five per-language filters would otherwise each re-run the
    * trim+lower+split chain per row — the optimizer keeps the projection
    * boundary because the token array is referenced multiple times. */
  def langIdFromTokens(toks: Column, markers: Map[String, Seq[String]]): Column = {
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** [[langIdFromTokens]] over whitespace tokens of `text`. */
  def langId(text: Column, markers: Map[String, Seq[String]]): Column =
    langIdFromTokens(tokens(lower(text)), markers)

  /** Default marker lists (tiny, public common-word sets). */
  val DefaultLangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "ich", "zu", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "une", "je", "dans"),
    "es" -> Seq("el", "la", "los", "las", "es", "no", "un", "una", "yo", "en"),
    "zh" -> Seq("的", "是", "不", "了", "在", "我", "有", "他", "这", "中"))
}
