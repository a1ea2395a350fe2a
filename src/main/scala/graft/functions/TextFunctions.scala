package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis and fingerprinting primitives for large-scale training-data
  * pipelines: portable hashing, shingling, MinHash, SimHash, language ID,
  * quality scoring, token counting, rolling-hash fingerprints.
  *
  * Everything here is composed from codegen'd built-in Catalyst expressions
  * (`md5`, `conv`, `transform`, `aggregate`, …) — no Scala UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and is embarrassingly parallel:
  * per-row narrow transforms, no shuffle, no driver involvement. At 100 TB the
  * cost is one scan.
  *
  * Hash portability: `hash60(s)` = first 60 bits of md5 as a non-negative
  * long. md5 is available with identical semantics in Spark, DuckDB, Postgres,
  * … which makes every derived signature (MinHash/SimHash/fingerprints)
  * oracle-checkable across engines, unlike engine-private hashes
  * (xxhash64/murmur3). Spark's own `xxhash64` is ~2× faster; use [[fastHash64]]
  * when cross-engine determinism is not required.
  */
object TextFunctions {

  /** Deterministic 60-bit hash: int(md5(s)[0:15], 16). Portable across
    * engines (DuckDB: `('0x' || substr(md5(s),1,15))::BIGINT`). Computed by
    * the native [[Hash60]] expression — identical values, no hex-string
    * round trip. */
  def hash60(c: Column): Column = Hash60(c.cast("string"))

  /** JVM-side twin of [[hash60]] for deriving plan-time constants (LSH
    * hyperplanes, MinHash permutation coefficients) that must agree with
    * SQL-side md5 arithmetic. */
  def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** MinHash universe modulus: 2^31-1 (Mersenne prime) — products of two
    * sub-2^31 values stay within Long. */
  val MinhashP = 2147483647L

  /** Deterministic linear-permutation coefficients (a_i, b_i) for one-hash
    * MinHash: slot_i = min over shingles of (a_i·h + b_i) mod P, where h is
    * the single md5-derived base hash of the shingle. One md5 per shingle
    * total (vs one per shingle per slot in the naive construction) — at
    * 100 TB the hashing cost is the whole game. */
  def minhashPerm(i: Int): (Long, Long) =
    (md5Long60(s"mh_a_$i") % (MinhashP - 1) + 1, md5Long60(s"mh_b_$i") % MinhashP)

  /** Seeded variant for MinHash permutations. */
  def hash60Seeded(c: Column, seed: Int): Column =
    hash60(concat_ws("|", lit(seed.toString), c.cast("string")))

  /** Engine-native 64-bit hash (xxhash64) — fastest path when no
    * cross-engine oracle is needed. */
  def fastHash64(c: Column, seed: Int = 42): Column = xxhash64(lit(seed), c)

  /** Whitespace tokenization. Empty string → empty array (split would
    * yield [""]). */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword-budget estimate without a vocab: words + punctuation
    * runs + digit runs each count once, long words count extra per 4 chars.
    * Deterministic, cheap, and a good proxy for LLM token budgeting. */
  def tokenCountBpeIsh(text: Column): Column = {
    val words = size(filter(split(text, "[^A-Za-z0-9]+"), c => length(c) > 0))
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]+", ""))
    val longWordExtra = aggregate(
      filter(split(text, "[^A-Za-z0-9]+"), c => length(c) > 4),
      lit(0L), (acc, w) => acc + floor((length(w) - lit(1)) / lit(4)).cast("long"))
    (words + punct + longWordExtra).cast("long")
  }

  /** Character k-shingles of a string: substrings [i, i+k) for
    * i in 0 .. len-k. Returns empty array when len < k. */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k))))

  /** Word n-grams from whitespace tokens, joined with a single space. */
  def wordNgrams(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
  }

  /** MinHash signature: k independent 60-bit hash "permutations", each the
    * min over the shingle set. Per-row narrow op; signatures are tiny
    * (k longs) so the later LSH band shuffle moves k·8 bytes per doc, not
    * the documents themselves — this is what makes MinHash dedup feasible
    * at 100 TB. Empty shingle set → Long.MaxValue sentinel per slot. */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { seed =>
      coalesce(
        array_min(transform(shingles, s => hash60Seeded(s, seed))),
        lit(Long.MaxValue))
    }: _*)

  /** LSH band keys from a MinHash signature: split k slots into bands of
    * `rowsPerBand`, hash each band — band `b` is the [[hash60]] of
    * `"b," + slots.mkString("_")`, the key the oracle SQL computes. Docs
    * sharing any band key are candidate near-dups. A null signature keys
    * like an empty one. One native loop ([[MinhashBandKeys]]). */
  def minhashBands(sig: Column, rowsPerBand: Int, nBands: Int): Column =
    MinhashBandKeys(coalesce(sig, typedLit(Array.empty[Long])), rowsPerBand, nBands)

  /** 64-bit SimHash over token hashes: bit j of the result is 1 iff more
    * token hashes have bit j set than unset. Hamming-close SimHashes ⇒
    * similar documents. Uses the low 60 bits of the portable hash (so the
    * top 4 bits are always 0 — fine for relative comparison). */
  def simhash(toks: Column, bits: Int = 60): Column = {
    val hs = transform(toks, t => hash60(t))
    val n = size(hs)
    // For each bit j: count of hashes with bit j set, vs n/2.
    val bitCols = (0 until bits).map { j =>
      val cnt = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)))
      // set bit j iff 2*cnt > n
      when(cnt * 2 > n.cast("long"), shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash fingerprint over tokens:
    * acc = (acc * 31 + hash60(token) % M) % M with M = 2^31-1 (a Mersenne
    * prime), so intermediates stay far from Long overflow — portable to
    * engines that error on BIGINT overflow (DuckDB). */
  def fingerprint(toks: Column): Column = {
    val M = 2147483647L
    aggregate(toks, lit(0L),
      (acc, t) => (acc * 31L + pmod(hash60(t), lit(M))) % M)
  }

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "una", "en", "por"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人", "这", "他"))

  /** Count of tokens that are stopwords of language `lang`. */
  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t =>
      stopwords(lang).map(w => lower(t) === w).reduce(_ || _)))

  /** N-gram/stopword-heuristic language ID: score each candidate language
    * by stopword hits over the token stream; highest count wins, ties break
    * lexicographically, zero hits → "und" (undetermined). Pure per-row
    * expression work — scales linearly, no shuffle. */
  def languageId(text: Column): Column = {
    val toks = tokens(text)
    // struct(-hits, lang) → array_min picks (max hits, lexicographic lang)
    val scored = stopwords.keys.toSeq.sorted.map { lang =>
      struct((-stopwordHits(toks, lang)).as("neg"), lit(lang).as("lang"))
    }
    val best = array_min(array(scored: _*))
    when(best.getField("neg") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Quality-scoring feature struct: char/token counts, mean token length,
    * punctuation & digit & whitespace ratios, uppercase ratio, English
    * stopword ratio, and a composite [0,1] quality score. */
  def qualityFeatures(text: Column): Column = {
    val toks = tokens(text)
    val nChars = length(text).cast("double")
    val nToks = size(toks).cast("double")
    val punct = length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", "")).cast("double")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val spaces = length(regexp_replace(text, "[^ \\t\\n]", "")).cast("double")
    val upper = length(regexp_replace(text, "[^A-Z]", "")).cast("double")
    val stopHits = stopwordHits(toks, "en").cast("double")
    val safeChars = greatest(nChars, lit(1.0))
    val safeToks = greatest(nToks, lit(1.0))
    val meanTokLen = (nChars - spaces) / safeToks
    val punctRatio = punct / safeChars
    val digitRatio = digits / safeChars
    val upperRatio = upper / safeChars
    val stopRatio = stopHits / safeToks
    // Composite: reward stopword presence + sane token lengths; penalize
    // punctuation/digit soup. Clamped to [0,1].
    val score = greatest(lit(0.0), least(lit(1.0),
      lit(0.5) * least(stopRatio * 4, lit(1.0)) +
      lit(0.3) * when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.0) +
      lit(0.2) * (lit(1.0) - least((punctRatio + digitRatio) * 5, lit(1.0)))))
    struct(
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      meanTokLen.as("mean_token_len"),
      punctRatio.as("punct_ratio"),
      digitRatio.as("digit_ratio"),
      upperRatio.as("upper_ratio"),
      stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** The Gopher document-quality rule set (Rae et al. 2021, Table A1 —
    * the canonical named filter battery most pipeline papers cite), as a
    * struct of per-rule booleans plus the conjunction:
    *  - 50 ≤ word count ≤ 100,000
    *  - 3 ≤ mean word length ≤ 10
    *  - symbol-to-word ratio (# and …) ≤ 0.1
    *  - ≥ 80% of words contain at least one alphabetic character
    *  - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
    * All rules are narrow per-row expressions over exact integer counts
    * (ratios are int/int divisions — engine-reproducible without any
    * rounding ceremony); `words` are the whitespace [[tokens]]. */
  def gopherRules(text: Column): Column = {
    val toks = tokens(text)
    val nToks = size(toks).cast("double")
    val safeToks = greatest(nToks, lit(1.0))
    val charsInToks = length(concat_ws("", toks)).cast("double")
    val meanWordLen = charsInToks / safeToks
    // symbol OCCURRENCES ('…' and '...' each count once, as in the paper
    // and the oracle's regexp_extract_all) — not removed-char deltas,
    // which would triple-weight a '...'
    val symbols = regexp_count(text, lit("[#…]|\\.\\.\\.")).cast("double")
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("double")
    // lines: split on \n; single-line documents have one line
    val lines = split(text, "\n")
    val nLines = greatest(size(lines).cast("double"), lit(1.0))
    val bulletLines = size(filter(lines,
      l => trim(l).rlike("^[-*•]"))).cast("double")
    val ellipsisLines = size(filter(lines,
      l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double")
    val wordCountOk = nToks >= 50.0 && nToks <= 100000.0
    val meanLenOk = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val symbolOk = symbols / safeToks <= 0.1
    val alphaOk = alphaWords / safeToks >= 0.8
    val bulletOk = bulletLines / nLines <= 0.9
    val ellipsisOk = ellipsisLines / nLines <= 0.3
    struct(
      wordCountOk.as("word_count_ok"),
      meanLenOk.as("mean_word_len_ok"),
      symbolOk.as("symbol_ratio_ok"),
      alphaOk.as("alpha_word_ok"),
      bulletOk.as("bullet_ok"),
      ellipsisOk.as("ellipsis_ok"),
      (wordCountOk && meanLenOk && symbolOk && alphaOk &&
        bulletOk && ellipsisOk).as("gopher_pass"))
  }

  /** Composite text normalization — the canonical pre-hash cleaning
    * chain, each step optional: NFC unicode normalization
    * ([[UnicodeNormalize]] — composed/decomposed forms unify so every
    * hash-based dedup upstream sees one spelling), accent stripping
    * (NFD + combining-mark removal), lowercasing, and whitespace
    * collapsing (runs → one space, ends trimmed). All narrow codegen'd
    * per-row expressions. */
  def normalizeText(text: Column, nfc: Boolean = true,
                    stripAccents: Boolean = false, lowercase: Boolean = true,
                    collapseWs: Boolean = true): Column = {
    var c = text
    if (nfc) c = UnicodeNormalize(c, "NFC")
    if (stripAccents)
      c = regexp_replace(UnicodeNormalize(c, "NFD"), "\\p{M}", "")
    if (lowercase) c = lower(c)
    if (collapseWs) c = trim(regexp_replace(c, "\\s+", " "))
    c
  }
}
