package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text primitives (SURVEY §2.3 E36-E38 + the text-analysis
  * extension surface).
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * higher-order functions — no Scala UDFs in the hot path — and every
  * formula is simple enough to restate in DuckDB SQL for the oracle:
  *
  *  - `chars(s)`      = single characters of `s` (no empty artifacts)
  *  - `charHash(s)`   = fold: acc₀=7; acc = (acc*31 + codepoint) mod 1e9+7
  *  - `tokens(s)`     = split on single space, empty tokens dropped
  *  - `tokenHashes(s)`= distinct charHash over tokens (a set, not multiset)
  *  - `minhash k`     : sig[i] = min over token hashes h of
  *                      ((i+1)*h + 7919*i) mod (2^31-1),  i ∈ [0, k)
  *  - `band hash`     : fold of 4 consecutive sig values with charHash's fold
  *  - `simhash30`     : bit j ∈ [0,30): 1 iff Σ_h (2*bit_j(h) - 1) >= 0
  *
  * All arithmetic stays in Long (max intermediate ≈ 3.3e10 << 2^63) so the
  * Spark and DuckDB results are bit-identical. These are per-row projections
  * (narrow, no shuffle): at 100 TB they scale linearly with input and stay
  * inside whole-stage codegen.
  */
object TextFunctions {

  val HashMod  = 1000000007L
  val HashSeed = 7L
  val MinhashMod = 2147483647L // 2^31 - 1
  val MinhashB   = 7919L

  private def toExpr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)

  /** Characters of a string column as an array, empty strings filtered out
    * (Java's split("") can emit empty artifacts; DuckDB's doesn't — the
    * filter keeps both sides identical). */
  def chars(c: Column): Column = filter(split(c, ""), x => x =!= lit(""))

  /** Polynomial rolling hash over characters — the document fingerprint
    * primitive. Native expression ([[graft.plans.CharPolyHash]]); the HOF
    * form lives in [[hof.charHash]] for parity testing. */
  def charHash(c: Column): Column = toCol(graft.plans.CharPolyHash(toExpr(c)))

  /** MinHash signature over distinct n-gram SHINGLE hashes — the standard
    * near-dup construction (unigram token sets degenerate on small
    * vocabularies: almost every pair collides). Native expression. */
  def minhashShingleSignature(c: Column, k: Int, n: Int): Column =
    toCol(graft.plans.MinhashShingleSig(toExpr(c), k, n))

  /** Whitespace tokenization, empty tokens dropped. */
  def tokens(c: Column): Column = filter(split(c, " "), t => t =!= lit(""))

  /** Token COUNT — bit-equal to `size(tokens(c))` on non-null input, and
    * null on null: Spark 4 runs ANSI mode by default, which disables the
    * legacy `size(null) = -1` behavior, so the two agree on null text
    * too (pinned by a NativeExprSpec gate, not just this comment — a
    * conf reviving the legacy -1 would trip it). Avoids materializing
    * the token array (round 17): the sub-shingle filters and
    * document-length features only consume the number. Native. */
  def tokenCount(c: Column): Column = toCol(graft.plans.TokenCountExpr(toExpr(c)))

  /** Per-document term frequencies in one pass:
    * `struct(counts: map<token,count>, dl: int)` — `explode(_.getField
    * ("counts"))` yields one row per DISTINCT term with its exact count,
    * so per-document tf tables need neither a per-occurrence explode nor
    * a shuffle (see [[graft.plans.TokenCountsExpr]]). Native. */
  def tokenCounts(c: Column): Column = toCol(graft.plans.TokenCountsExpr(toExpr(c)))

  /** Per-document word n-gram frequencies (`map<shingle,count>`, same
    * shingle strings as [[shingles]]) — the bigram/PMI twin of
    * [[tokenCounts]]. Native. */
  def shingleCounts(c: Column, n: Int): Column =
    toCol(graft.plans.ShingleCountsExpr(toExpr(c), n))

  /** Per-document Shannon token entropy
    * (`struct(raw: double, n_unique: int)`, null when no tokens) — the
    * token-sorted fold of [[graft.plans.TokenEntropyExpr]], UNROUNDED;
    * callers apply their own `round`. Native. */
  def tokenEntropy(c: Column): Column =
    toCol(graft.plans.TokenEntropyExpr(toExpr(c)))

  /** Distinct token hashes — the set a MinHash/SimHash signature is built
    * from. */
  def tokenHashes(c: Column): Column =
    array_distinct(transform(tokens(c), t => charHash(t)))

  /** Word n-gram shingles joined by a single space (E37); empty when the
    * doc has fewer than n tokens. Native expression; HOF twin in
    * [[hof.shingles]]. */
  def shingles(c: Column, n: Int): Column =
    toCol(graft.plans.ShinglesExpr(toExpr(c), n))

  /** MinHash LSH band hashes straight from text in ONE pass — tokenize
    * once, shingle-hash, signature, band fold; EMPTY array below
    * `shingleN` tokens so `posexplode` drops sub-shingle docs exactly
    * like the former `tokenCount` filter (round 18; see
    * [[graft.plans.MinhashBandsExpr]]). Bit-equal for surviving docs to
    * `lshBandHashes(minhashShingleSignature(c, k, n), bands, rowsPerBand)`. */
  def minhashBandHashes(c: Column, k: Int, n: Int, bands: Int, rowsPerBand: Int): Column =
    toCol(graft.plans.MinhashBandsExpr(toExpr(c), k, n, bands, rowsPerBand))

  /** Banded [[simhashShingle60]] as `array<struct<sh, bv>>` in ONE pass —
    * empty below `n` tokens so a codegen'd posexplode drops sub-shingle
    * docs, replacing the `tokenCount` filter pass plus the signature's
    * own tokenization (round 18; see [[graft.plans.Simhash60BandedExpr]]
    * for the two measured-worse shapes this replaces). */
  def simhash60Banded(c: Column, n: Int, nBands: Int, bandBits: Int): Column =
    toCol(graft.plans.Simhash60BandedExpr(toExpr(c), n, nBands, bandBits))

  /** LSH band hashes: fold each group of `rowsPerBand` signature values with
    * the charHash fold. Docs sharing any band hash are near-dup candidates. */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        aggregate(
          slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
          lit(HashSeed),
          (acc, v) => (acc * lit(31L) + v) % lit(HashMod)))

  /** 30-bit SimHash over the distinct token-hash set. Bit j of the result is
    * set iff the majority of token hashes have bit j set. Native
    * expression; HOF form in [[hof.simhash30]]. */
  def simhash30(c: Column): Column = toCol(graft.plans.Simhash30Expr(toExpr(c)))

  /** SimHash over distinct n-gram SHINGLE hashes — use n ≥ 2 when the
    * vocabulary is small enough that token SETS no longer discriminate
    * documents (same reasoning as [[minhashShingleSignature]]). */
  def simhashShingle30(c: Column, n: Int): Column =
    toCol(graft.plans.Simhash30Expr(toExpr(c), n))

  /** 60-bit SimHash over distinct n-gram shingle hashes — the hamming-LSH
    * banding signature. Bits 0..29 vote over the shingle hash, bits 30..59
    * over an LCG-derived second hash ([[graft.plans.TextHash.simhash60]]).
    * 60 bits band as 4×15 (32 768 values per band) where 30 bits could only
    * band as 3×10 (1 024) — the band space, not the signature quality, is
    * what bounds candidate-join blowup at corpus scale. */
  def simhashShingle60(c: Column, n: Int): Column =
    toCol(graft.plans.Simhash60Expr(toExpr(c), n))

  // ---- codepoint-correct tier (round 12) ----------------------------
  // The functions above fold UTF-16 units and split on U+0020 only —
  // bit-exact against the DuckDB oracle for BMP text, wrong past it
  // (astral codepoints, non-space Unicode whitespace). These variants
  // ride [[graft.plans.TextHash]]'s codepoint tier: charHashCp folds
  // codepoints (DuckDB's unicode(c) fold on EVERY string), tokensCp
  // breaks on the full Unicode White_Space set
  // ([[graft.plans.TextHash.WhitespaceCp]] — the DuckDB regex class is
  // generated from the same array, so the engines cannot drift).

  /** Codepoint-fold [[charHash]]. */
  def charHashCp(c: Column): Column = toCol(graft.plans.CharPolyHashCp(toExpr(c)))

  /** Unicode-whitespace tokenization, empty tokens dropped. */
  def tokensCp(c: Column): Column = toCol(graft.plans.TokensCpExpr(toExpr(c)))

  /** Codepoint-tier [[minhashShingleSignature]]. */
  def minhashShingleSignatureCp(c: Column, k: Int, n: Int): Column =
    toCol(graft.plans.MinhashShingleSigCp(toExpr(c), k, n))

  /** Codepoint-tier [[simhashShingle60]]. */
  def simhashShingle60Cp(c: Column, n: Int): Column =
    toCol(graft.plans.Simhash60CpExpr(toExpr(c), n))

  /** Interpreted HOF reference implementations (parity tests only). */
  object hof {
    /** HOF twin of the native [[TextFunctions.langMarkerCount]] (parity
      * testing only — CodegenFallback, interpreted per token). */
    def langMarkerCount(c: Column, lang: String): Column = {
      val markers = langMarkers.toMap.apply(lang)
      size(filter(tokens(c), t => t.isin(markers.map(m => m: Any): _*)))
    }

    /** Note: Spark sequence(1, 0) counts DOWN ([1, 0]), hence the
      * short-doc guard. */
    def shingles(c: Column, n: Int): Column = {
      val toks = tokens(c)
      when(size(toks) >= n,
        transform(
          sequence(lit(1), size(toks) - lit(n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }

    def charHash(c: Column): Column =
      aggregate(
        chars(c),
        lit(HashSeed),
        (acc, ch) => (acc * lit(31L) + ascii(ch).cast("long")) % lit(HashMod))

    def simhash30(c: Column): Column = {
      val hs = array_distinct(transform(tokens(c), t => charHash(t)))
      aggregate(
        sequence(lit(0), lit(29)),
        lit(0L),
        (acc, j) => {
          val bitSum = aggregate(
            hs,
            lit(0L),
            (s, h) => s + (floor(h / pow(lit(2.0), j)).cast("long") % lit(2L)) * lit(2L) - lit(1L))
          acc + when(bitSum >= 0, floor(pow(lit(2.0), j)).cast("long")).otherwise(lit(0L))
        })
    }

    def simhash60(c: Column): Column = {
      val hs = array_distinct(transform(tokens(c), t => charHash(t)))
      val lo = aggregate(
        sequence(lit(0), lit(29)),
        lit(0L),
        (acc, j) => {
          val bitSum = aggregate(
            hs,
            lit(0L),
            (s, h) => s + (floor(h / pow(lit(2.0), j)).cast("long") % lit(2L)) * lit(2L) - lit(1L))
          acc + when(bitSum >= 0, floor(pow(lit(2.0), j)).cast("long")).otherwise(lit(0L))
        })
      val hi = aggregate(
        sequence(lit(0), lit(29)),
        lit(0L),
        (acc, j) => {
          val bitSum = aggregate(
            hs,
            lit(0L),
            (s, h) => {
              val h2 = (lit(graft.plans.TextHash.Lcg60A) * h + lit(graft.plans.TextHash.Lcg60C)) % lit(MinhashMod)
              s + (floor(h2 / pow(lit(2.0), j)).cast("long") % lit(2L)) * lit(2L) - lit(1L)
            })
          acc + when(bitSum >= 0, floor(pow(lit(2.0), j + lit(30))).cast("long")).otherwise(lit(0L))
        })
      lo + hi
    }

    def minhashSignature(c: Column, k: Int): Column = {
      val hs = array_distinct(transform(tokens(c), t => charHash(t)))
      transform(
        sequence(lit(0), lit(k - 1)),
        i =>
          // Empty hash set → array_min yields NULL → zero-fill, matching the
          // native expression's empty-set contract (TextHash.minhashSig).
          coalesce(
            array_min(transform(hs, h =>
              ((i + lit(1)).cast("long") * h + lit(MinhashB) * i.cast("long")) % lit(MinhashMod))),
            lit(0L)))
    }
  }

  // ---- language ID (n-gram/stopword heuristic) -------------------------

  /** Marker stopwords per language; prediction = argmax of marker counts
    * with fixed priority order en > de > es > fr on ties (zh has no ASCII
    * markers — the fixtures' text is ASCII word soup, so the heuristic's
    * value is its determinism, not linguistic accuracy). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  def langMarkerCount(c: Column, lang: String): Column = {
    val markers = langMarkers.toMap.apply(lang)
    // Native one-pass set count (round 16): the former
    // size(filter(tokens, isin)) is a CodegenFallback HOF — interpreted
    // per token, and langId stacks four of them per document. Same exact
    // multiset count; HOF twin kept in [[hof.langMarkerCount]].
    toCol(graft.plans.TokenSetCountExpr(toExpr(c), markers))
  }

  def langId(c: Column): Column = {
    val en = langMarkerCount(c, "en")
    val de = langMarkerCount(c, "de")
    val es = langMarkerCount(c, "es")
    val fr = langMarkerCount(c, "fr")
    when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  // ---- quality / token stats ------------------------------------------

  /** Stopword ratio against the English marker set. */
  def stopwordRatio(c: Column): Column =
    langMarkerCount(c, "en").cast("double") / size(tokens(c))

  /** Quality score ∈ [0,1]: 0.4·min(avgTokenLen/10,1) + 0.4·stopRatio +
    * 0.2·min(nTokens/100,1), rounded to 4 decimals.
    *
    * The round uses the multiply-round-divide idiom, NOT `round(x, 4)`:
    * the 0.4/0.2 blend of dyadic ratios lands EXACTLY on .00005 decimal
    * boundaries for some inputs (power-of-two token counts), where
    * Spark's exact-binary HALF_UP and DuckDB's scaled rounding disagree
    * by one ulp of the last digit. Rounding the shared product double
    * `x·10⁴` to an integer makes both engines resolve the boundary from
    * the SAME value. Keep the oracle SQL (TextQueries q44) on the same
    * idiom — change both or neither. */
  def qualityScore(c: Column): Column = {
    val nTok = size(tokens(c)).cast("double")
    val avgLen = length(c).cast("double") / nTok
    val raw = least(avgLen / lit(10.0), lit(1.0)) * lit(0.4) +
      stopwordRatio(c) * lit(0.4) +
      least(nTok / lit(100.0), lit(1.0)) * lit(0.2)
    round(raw * lit(10000.0)) / lit(10000.0)
  }

  /** BPE-ish token-count estimate: number of `\w+|[^\w\s]` matches plus
    * ceil(chars/4) (a crude bytes-per-token prior). */
  def tokenCountEstimate(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0))) +
      ceil(length(c).cast("double") / lit(4.0)).cast("int")

  /** E112: hashed-feature LINEAR classifier score — the fastText/CCNet
    * quality-filter shape (score every document with a linear model over
    * hashed token features, keep above a threshold) with the weights
    * supplied as a pure function of the bucket index. Per token: bucket =
    * charHash(token) mod `nBuckets`, weight = `weightOf(bucket)`; the doc
    * score is the Σ over the token MULTISET (a repeated token counts
    * every time — exactly the bag-of-words dot product w·x).
    *
    * Deliberately INTEGER arithmetic end to end: a float sigmoid is
    * monotone in w·x, so thresholding the integer dot product decides
    * identically — and the integer sum is bit-exact across engines
    * (float summation order is not), which is what lets the q129 oracle
    * hash-match instead of tolerance-gate. A trained model plugs in by
    * swapping `weightOf` for an `element_at` over a broadcast weights
    * array literal; the plumbing (hash, bucket, multiset sum, threshold)
    * is unchanged. Narrow, codegen'd, no shuffle — the filter pushes to
    * the scan like every quality gate here. */
  def hashedLinearScore(
      c: Column,
      nBuckets: Int,
      weightOf: Column => Column): Column = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    aggregate(
      transform(tokens(c), t => weightOf(pmod(charHash(t), lit(nBuckets)))),
      lit(0L),
      (acc, w) => acc + w)
  }

  /** The fixture weight rule for [[hashedLinearScore]]: a deterministic
    * pseudo-random weight in [-1000, 1000] from the bucket index alone —
    * SQL-restatable, so the classifier path is oracle-checked without
    * shipping a trained model. */
  def fixtureWeight(bucket: Column): Column =
    pmod(bucket * lit(2654435761L), lit(1000000007L)) % lit(2001L) - lit(1000L)
}
