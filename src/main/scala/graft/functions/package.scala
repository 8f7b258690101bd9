package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Column-level helpers shared across the engine.
  *
  * These close the semantic gaps SURVEY.md §7.4 calls out between the
  * reference's JavaScript semantics and Spark SQL:
  *   - JS `a || b` treats `''`/`0` as missing → [[jsCoalesce]] nulls empties
  *     first (reference: /root/reference/src/lib/users.js:17-33).
  *   - JS loose `==` compares after coercion → [[keyEq]] compares as strings
  *     (reference: /root/reference/pages/launch/[id].js:33).
  */
package object functions {

  /** Cosine similarity of two `array<float>` columns (codegen'd expression). */
  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Dot product of two `array<float>` columns (codegen'd expression). */
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Sign-random-projection LSH signature (codegen'd expression with a
    * precomputed deterministic weight matrix; `table` picks an independent
    * hyperplane family for multi-table LSH). */
  def hyperplane_signature(c: Column, planes: Int, dim: Int, table: Int = 0): Column =
    Bridge.column(HyperplaneSignature(Bridge.expression(c), planes, dim, table))

  /** All `tables` LSH signatures in one compiled loop (`array<int>`,
    * element t ≡ `hyperplane_signature(c, planes, dim, t)`): the
    * table-count-safe form — an array of T independent signature
    * expressions stops JIT-compiling in the tens of tables. */
  def hyperplane_signatures(c: Column, planes: Int, dim: Int, tables: Int): Column =
    Bridge.column(HyperplaneSignatures(Bridge.expression(c), planes, dim, tables))

  /** All n-token shingle xxhash64s of a text in one compiled pass
    * (replaces split→explode→window→hash for hash-consuming pipelines). */
  def shingle_hashes(c: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(c), n))

  /** Unicode NFC normalization inside whole-stage codegen (no UDF);
    * fast no-alloc path for already-normalized text. */
  def nfc_normalize(c: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(c)))

  /** Polynomial rolling hash (base 31 mod 1e9+7 over codepoints) as one
    * compiled loop — replaces the interpreted per-character `aggregate`. */
  def rolling_hash(c: Column): Column =
    Bridge.column(RollingHash(Bridge.expression(c)))

  /** All `b` Poisson(1) bootstrap multiplicities of a row key as one
    * compiled `array<long>` kernel (b/4 md5 digests, four 8-hex uniform
    * windows each, inverse-CDF against the snapped ladder) — replaces a
    * 32-column `when`-ladder projection that blew the Janino method limit. */
  def poisson_bootstrap_weights(key: Column, b: Int, cum: Seq[Double]): Column =
    Bridge.column(PoissonBootstrapWeights(Bridge.expression(key), b, cum))

  /** Clipped n-gram overlap of two token arrays — Σ over candidate n-grams
    * of min(count in candidate, count in reference), the per-row core of
    * BLEU-style evaluation, as one compiled hash-count pass. */
  def ngram_clipped_overlap(cand: Column, ref: Column, n: Int): Column =
    Bridge.column(NgramClippedOverlap(
      Bridge.expression(cand), Bridge.expression(ref), n))

  /** All chrF per-row counts (clipped/cand-total/ref-total for n = 1..maxN)
    * over two character streams in one compiled pass — `array<long>` of
    * length 3·maxN, consumed via `element_at` sums. */
  def char_ngram_stats(cand: Column, ref: Column, maxN: Int): Column =
    Bridge.column(CharNgramStats(
      Bridge.expression(cand), Bridge.expression(ref), maxN))

  /** Hashed bag-of-words bucket counts of a whitespace-split text
    * (`array<long>` of length dims, the dense form of the feature-hashing
    * trick) in one compiled pass — no explode, no exchange. */
  def hashed_bag_counts(text: Column, dims: Int): Column =
    Bridge.column(HashedBagCounts(Bridge.expression(text), dims))

  /** Per-row product-quantization assignment against a broadcast flat
    * codebook (m·k·sub doubles): `array<struct<sm,code,dist>>`, one
    * entry per subspace — digit-exact replay of the declarative
    * posexplode/join/argmin plan in one compiled pass. */
  def pq_assign_codes(emb: Column, codebook: Array[Double],
                      m: Int, k: Int, sub: Int): Column =
    Bridge.column(PqAssignCodes(Bridge.expression(emb), codebook, m, k, sub))

  /** Per-query ADC lookup table built IN-PLAN from a unit-normalized
    * query embedding and the broadcast flat codebook:
    * `array<double>` of the m·k inner products ⟨q_s, codeword(s,c)⟩. */
  def pq_query_lut(emb: Column, codebook: Array[Double],
                   m: Int, k: Int, sub: Int): Column =
    Bridge.column(PqQueryLut(Bridge.expression(emb), codebook, m, k, sub))

  /** Asymmetric-distance (ADC) score of a PQ-coded vector against a
    * query's m·k lookup-table COLUMN ([[pq_query_lut]]):
    * Σ_s lut[s·k + code_s]. */
  def adc_lookup_score(lut: Column, codes: Column, k: Int): Column =
    Bridge.column(AdcLookupScore(
      Bridge.expression(lut), Bridge.expression(codes), k))

  /** Sakoe–Chiba-banded Levenshtein distance (per-row band column):
    * exact when the true distance ≤ band, LOUD failure otherwise —
    * O(len·band) instead of O(len²). */
  def banded_levenshtein(a: Column, b: Column, band: Column): Column =
    Bridge.column(BandedLevenshtein(
      Bridge.expression(a), Bridge.expression(b), Bridge.expression(band)))

  /** Viterbi segmentation of a word under a unigram piece model (piece →
    * micro-unit negative log-prob cost); ties prefer the longer piece.
    * The model rides as a broadcast reference object — the production
    * vocab-keyed tokenizer shape. */
  def unigram_viterbi_pieces(word: Column, pieces: Seq[(String, Long)],
                             maxPieceLen: Int): Column =
    Bridge.column(UnigramViterbiPieces(
      Bridge.expression(word), pieces, maxPieceLen))

  /** Multiset count of array elements inside a fixed vocabulary (compiled
    * hash-set probe; replaces the filter/array_contains HOF). */
  def tokens_in_set(c: Column, vocab: Seq[String]): Column =
    Bridge.column(TokensInSet(Bridge.expression(c), vocab))

  /** Positions where two long arrays agree (MinHash agreement kernel). */
  def array_agree_count(a: Column, b: Column): Column =
    Bridge.column(ArrayAgreeCount(Bridge.expression(a), Bridge.expression(b)))

  /** L2-normalized vector, elements portably rounded to `scale` decimals. */
  def l2_normalize(c: Column, scale: Int = 6): Column =
    Bridge.column(L2NormalizeRounded(Bridge.expression(c), scale))

  /** Symmetric int8 quantization (scale = max|x|/127) as array<int>. */
  def quantize_int8(c: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(c)))

  /** xxhash64 with an explicit seed. `xxhash64(lit(i), h)` re-hashes the
    * constant `i` on EVERY row to derive the per-permutation seed; folding
    * that first step into the seed (`XXH64.hashInt(i, 42)` computed once at
    * plan time) halves the hash work of a 64-permutation MinHash pass while
    * producing bit-identical values. */
  def xxhash64_seeded(c: Column, seed: Long): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(Bridge.expression(c)), seed))

  /** `''` → null, so SQL coalesce matches JS `||` falsiness for strings. */
  def emptyToNull(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  /** JS-style `a || b || ... || default`: empty strings count as missing. */
  def jsCoalesce(cols: Column*): Column = coalesce(cols.map(emptyToNull): _*)

  /** JS loose `==` key equality: compare both sides as strings (F5). */
  def keyEq(c: Column, key: String): Column = c.cast("string") === lit(key)

  /** Percentage-of-max clamped to 100, as the reference's progress bars
    * (C8, /root/reference/pages/index.js:291). */
  def pctOf(v: Column, max: Column): Column = least(v / max * 100.0, lit(100.0))

  /** Engine-portable half-up rounding: `floor(x·10ˢ + 0.5)/10ˢ` — plain
    * IEEE multiply/add/floor, so Spark and DuckDB produce bit-identical
    * results. Spark's `round` (exact BigDecimal expansion) and DuckDB's
    * (float multiply) disagree on ~1-in-10⁴ boundary values — observed on
    * real fixture rows at sf0.1. Use this for any score the oracle hashes. */
  def portableRound(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + 0.5) / p
  }

  /** The matching DuckDB SQL fragment for [[portableRound]]. */
  def portableRoundSql(expr: String, scale: Int): String = {
    val p = math.pow(10.0, scale).toLong
    s"floor(($expr) * $p + 0.5) / $p"
  }

  /** Union of serialized Count-Min sketch blobs — the frequency-rollup step
    * Spark's native `count_min_sketch` build aggregate lacks
    * ([[CmsMergeAgg]]). */
  def cms_merge_agg(c: Column): Column =
    Bridge.column(CmsMergeAgg(Bridge.expression(c)).toAggregateExpression())

  /** Frequency estimate of `item` (long or string) from a serialized
    * Count-Min sketch ([[CmsEstimate]]). */
  def cms_estimate(sketch: Column, item: Column): Column =
    Bridge.column(CmsEstimate(Bridge.expression(sketch), Bridge.expression(item)))

  /** Distributed Bloom-filter build over a LONG column (Spark registers the
    * `BloomFilterAggregate` expression for its own runtime row-filtering;
    * this exposes it with explicit sizing — `numBits/estimatedItems` ≈ 8
    * gives ~2% false positives, which a downstream exact confirm absorbs). */
  def bloom_filter_agg(c: Column, estimatedItems: Long, numBits: Long): Column =
    Bridge.column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(Bridge.expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Membership probe of a LONG column against a serialized Bloom filter
    * passed as a literal (the expression requires a foldable filter — the
    * same contract Spark's own injected runtime filters obey). */
  def might_contain(bloom: Column, v: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(Bridge.expression(bloom), Bridge.expression(v)))

  /** Exact-decimal sum of a double column: each value is rounded to `scale`
    * decimals as a decimal(18,scale), summed exactly, and returned as double.
    * Sum order then cannot perturb low bits, so results are reproducible
    * across partition counts, AQE re-plans — and the DuckDB oracle. */
  def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

}
