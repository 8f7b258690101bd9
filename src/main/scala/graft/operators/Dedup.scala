package graft.operators

import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators over `documents` / `embeddings` — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup.
  *
  * Scale stance (the part that matters at 100 TB):
  *   - exact dedup is a hash groupBy on the dedup key — one shuffle,
  *     map-side combined;
  *   - near-dup NEVER does an all-pairs cross join: MinHash/LSH shuffles on
  *     band keys so only same-bucket candidates meet; n-gram Jaccard joins
  *     through an inverted shingle index, so only pairs sharing a shingle
  *     are scored (exact, but pruned);
  *   - the brute-force cosine pair scan is kept only because the fixture
  *     embedding table is dimension-table sized (≤2k rows — broadcastable);
  *     the scale path is [[Similarity.annCandidates]].
  */
object Dedup {

  private def toks = split(col("text"), " ")

  /** Exact dedup on full text: canonical row = min doc_id per text.
    * One hash-aggregate shuffle on the key. */
  def exact(documents: DataFrame): DataFrame =
    documents.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** [[exact]]'s scale form: group on the md5 digest of the content so
    * the shuffle key is 32 chars regardless of document size — at 100 TB
    * the difference between shuffling fingerprints and shuffling the
    * corpus. `carry` columns ride as min_by(·, doc_id): the canonical
    * row's values travel TOGETHER (one representative row), so carries
    * that are NOT derived from the digested content — e.g. prep2's
    * removal accounting, computed from the ORIGINAL text of documents
    * that clean to identical text — stay mutually consistent instead of
    * mixing per-column minima across source rows. For content-derived
    * carries every row in a digest group holds the same value, so this
    * equals the old per-column min(). */
  def exactByDigest(documents: DataFrame, textCol: Column,
                    carry: Seq[String] = Nil): DataFrame = {
    val aggs = min(col("doc_id")).as("doc_id") +:
      carry.map(c => min_by(col(c), col("doc_id")).as(c))
    documents.groupBy(md5(textCol).as("digest"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** SD1 — SOFT deduplication: reweight duplicates instead of dropping
    * them (the reweighting alternative to [[exactByDigest]]'s hard drop
    * — He et al., "SoftDedup: an Efficient Data Reweighting Method for
    * Speeding Up Language Model Pre-training", ACL 2024: common data
    * trains at down-weighted sampling probability, so no information is
    * lost but duplicated mass stops dominating the gradient). Each doc
    * weighs 1/n_copies of its content digest; the per-group EFFECTIVE
    * token count Σ n_tok/n_copies is the number an epoch-budget planner
    * (budget1) uses in place of the raw count.
    *
    * Exactness: per-doc weighted tokens fold as micro-unit BIGINTs
    * (n_tok ≤ fixture cap, so the grid is lossless); the dup fraction is
    * one IEEE division of grid values. Scale: copy counts ride ONE
    * digest-keyed window (not a join-back — one corpus pass), then the
    * group rollup: two compact-key shuffles, linear. */
  def softDedup(documents: DataFrame, textCol: Column, nTokens: Column,
                groupCol: Column): DataFrame = {
    def micro(c: Column) = floor(c * 1000000.0 + 0.5).cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))
    val base = documents
      .select(groupCol.as("source"), md5(textCol).as("digest"),
        nTokens.cast("long").as("n_tok"))
      .withColumn("n_copies", count(lit(1)).over(w))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(micro(col("n_tok").cast("double") / col("n_copies"))).as("effm"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("effm").cast("double") / 1000000.0).as("eff_tokens"),
        col("n_dup_docs"),
        graft.functions.portableRound(lit(1.0) -
          col("effm").cast("double") / 1000000.0 / col("n_tokens"), 6)
          .as("dup_token_frac"))
  }

  /** Exact-dedup run metrics, the reference's `dedup_removed` accounting
    * (users.js:65-79) generalized to a key: rows_in/rows_out/dedup_removed. */
  def exactMetrics(df: DataFrame, key: Column): DataFrame =
    df.agg(
      count(lit(1)).as("rows_in"),
      countDistinct(key).as("rows_out"),
      (count(lit(1)) - countDistinct(key)).as("dedup_removed"))

  /** Token n-gram shingles (contiguous, space-joined), distinct per doc,
    * as an array column. */
  def shingles(documents: DataFrame, n: Int): DataFrame =
    documents
      .filter(size(toks) >= n)
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))).as("shingles"))

  /** Shingles as a flat (doc_id, sg) stream via posexplode + window `lead`.
    * Higher-order functions (transform/slice) are CodegenFallback —
    * interpreted per row; the lead-window formulation stays inside
    * whole-stage codegen and measures ~4× faster (ProfileShingles).
    * `distinctPerDoc=false` skips the dedup shuffle where duplicates are
    * harmless (min-sketches). */
  def shingleStream(documents: DataFrame, n: Int,
                    distinctPerDoc: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = documents.select(col("doc_id"),
      posexplode(toks).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh = tokens.select(col("doc_id"),
      concat_ws(" ", (0 until n).map(i =>
        if (i == 0) col("tok") else lead(col("tok"), i).over(w)): _*).as("sg"),
      lead(col("tok"), n - 1).over(w).as("guard"))
      .filter(col("guard").isNotNull)
      .select(col("doc_id"), col("sg"))
    if (distinctPerDoc) sh.distinct() else sh
  }

  /** MinHash signatures over distinct n-gram shingles: `numHashes`
    * independent permutations simulated by seeded xxhash64, min per doc.
    * One explode + one hash-aggregate — linear in corpus shingle count.
    *
    * Shingles, not unigram tokens: on a small-vocabulary corpus every pair
    * of docs shares most unigrams, which degenerates LSH into an all-pairs
    * join (measured: 93 s → <2 s at sf0.1 after switching to 3-shingles).
    */
  def minhashSignatures(documents: DataFrame, numHashes: Int = 64,
                        shingleN: Int = 3): DataFrame = {
    // one string hash per shingle, then `numHashes` affine permutations of
    // it (odd multiplier + offset, wrapping 64-bit) — the standard trick:
    // 64× fewer string hashes than seeding xxhash64 per permutation
    // hash the variable-length shingle ONCE, then derive the per-permutation
    // values by hashing the fixed 8-byte result with the permutation index:
    // independent permutations (unlike affine transforms of one hash, which
    // correlate argmins) at ~fixed cost per permutation. Affine wrap-around
    // tricks are also off the table under ANSI mode (Spark 4 default).
    // one compiled pass per document: tokenize + slide + hash inside the
    // ShingleHashes kernel, no per-token explode and no window sort (the
    // hash stream is bit-identical to xxhash64 over the shingle strings)
    val tokenized = documents
      .select(col("doc_id"), explode(shingle_hashes(col("text"), shingleN)).as("h"))
    // per-permutation seed folded at plan time: one hashLong per (row, perm)
    // instead of hashInt+hashLong — values identical to xxhash64(lit(i), h)
    val mins = (0 until numHashes).map { i =>
      min(xxhash64_seeded(col("h"),
        org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L))).as(s"mh_$i")
    }
    tokenized.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("minhash"))
  }

  /** MinHash + LSH near-dup candidate pairs with estimated Jaccard.
    * Bands of `rowsPerBand` minhashes are hashed to a band key; candidates
    * are generated by a shuffle join on (band, bandKey) — never all-pairs —
    * then scored by the fraction of agreeing minhash positions.
    * 16 bands × 4 rows: ~0.64 recall at j=0.5, ~1.0 at j≥0.8.
    */
  def minhashPairs(documents: DataFrame, numHashes: Int = 64,
                   rowsPerBand: Int = 4, minEstJaccard: Double = 0.2,
                   shingleN: Int = 3): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val sigs = minhashSignatures(documents, numHashes, shingleN)
    val banded = sigs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(numBands - 1)),
        b => hash(slice(col("minhash"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val a = banded.alias("a")
    val b = banded.alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("a_id"), col("minhash").as("ma"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("minhash").as("mb"))
    candidates.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        (array_agree_count(col("ma"), col("mb")).cast("double") /
          lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** SimHash (32-bit) over the token multiset. Token hash = first 8 hex
    * chars of md5 (engine-portable, so the DuckDB oracle can recompute it);
    * each bit votes +1/-1 weighted by occurrence, sign → bit.
    * One explode + one 32-column hash-aggregate. */
  def simhash(documents: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
    val exploded = documents.select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("h", h)
    val votes = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$j")
    }
    val sim = (0 until 32).map { j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    exploded.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup candidates: pairs whose simhashes agree on one of the
    * four 8-bit bands (pigeonhole: hamming ≤ 3 ⇒ at least one exact band).
    * Banded like LSH — shuffle join on (band, bits), no cross join. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhash(documents)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => (col("simhash") / pow(lit(256.0), b)).cast("long").bitwiseAND(255))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bits")
    val a = banded.alias("a")
    val b = banded.alias("b")
    val hamming = {
      val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
      (0 until 32).map(j => shiftright(x, j).bitwiseAND(1)).reduce(_ + _)
    }
    a.join(b, col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity, pruned through an inverted shingle
    * index: only pairs sharing ≥1 shingle are scored (identical result set
    * to all-pairs for any threshold > 0, at a fraction of the cost).
    * The index is keyed on shingle HASHES from the one-pass
    * [[graft.functions.ShingleHashes]] kernel — 8-byte join keys instead
    * of shingle strings, no per-token explode, no window sort. Distinct
    * hashes ≡ distinct shingles up to xxhash64 collision (2⁻⁶⁴ per pair;
    * the DuckDB oracle computes over the strings and would catch one). */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 5,
                        minJaccard: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOTE (r16): this window form shuffles + sorts the whole exploded
    // index on doc_id just to count each doc's shingles — kept ONLY
    // because d4_ngram_jaccard is a bench CANARY whose plan must stay
    // frozen for cross-round noise calibration (Bench.quietRef). Every
    // other caller uses [[ngramJaccardPairsMapCount]], which computes
    // the identical count map-side.
    val inv = documents
      .select(col("doc_id"),
        explode(array_distinct(shingle_hashes(col("text"), n))).as("h"))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    scoredPairs(inv, minJaccard)
  }

  /** [[ngramJaccardPairs]] minus the window: each doc's shingle count is
    * the SIZE of its distinct-hash array, computed in the same map-side
    * projection that feeds the explode — identical value (the window
    * counted exploded rows per doc, which IS the array size), without
    * hash-exchanging and sorting the entire inverted index by doc_id
    * first (twice: the self-join's two branches re-ran the window above
    * the reused exchange). Scale: deletes a full index-sized shuffle
    * from d7/d8/clq1/er-family pair generation. */
  def ngramJaccardPairsMapCount(documents: DataFrame, n: Int = 5,
                                minJaccard: Double = 0.0): DataFrame = {
    val withArr = documents.select(col("doc_id"),
      array_distinct(shingle_hashes(col("text"), n)).as("sh"))
    // materialize the exploded index ONCE before the self-join: the two
    // join branches otherwise re-run the shingle kernel + explode (Spark
    // only dedups exchanges, not projections — the window form's doc_id
    // exchange was accidentally serving as the shared materialization
    // point, measured 10-15% faster than the naive map-count form on
    // d8). A lineage cut keeps AQE free to pick the join strategy from
    // the materialized size (an explicit repartition(h) measured worse:
    // it pinned the join to a sort-merge over session-width partitions).
    val inv = withArr.select(col("doc_id"),
      size(col("sh")).cast("long").as("n_sh"), explode(col("sh")).as("h"))
      .localCheckpoint()
    scoredPairs(inv, minJaccard)
  }

  /** Shared tail of the two pair generators: inverted-index self-join on
    * the shingle hash + exact Jaccard from (na, nb, |∩|). */
  private def scoredPairs(inv: DataFrame, minJaccard: Double): DataFrame = {
    val a = inv.alias("a")
    val b = inv.alias("b")
    a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("a_id"), col("b_id"),
        portableRound(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") > minJaccard)
  }

  /** Incremental NEAR-dup admission — inc1's exact-digest nightly-ingest
    * gate upgraded to n-gram Jaccard, the production shape: an incoming
    * batch is screened against the STANDING corpus (and against its own
    * smaller-id members), and a doc is rejected iff some blocker reaches
    * `minJaccard`. One row per incoming doc: (doc_id, admitted,
    * blocker_id, jaccard) with the blocker chosen deterministically
    * (highest rounded Jaccard, ties to the smallest id; NULLs when
    * admitted). Within-batch policy is CONSERVATIVE one-pass admission
    * (a smaller-id near-dup blocks regardless of its own fate) — a
    * deterministic contract, unlike chained sequential admission, and
    * exactly SQL-replayable.
    *
    * Scale shape: the candidate join is the d4 inverted index used
    * ASYMMETRICALLY — corpus shingles are index-side, the (small)
    * incoming batch is the probe side, so candidate volume is batch ×
    * per-shingle postings, never corpus²; candidates carry ids +
    * shingle hashes only. At mega-frequent-shingle corpora compose with
    * [[ngramJaccardPairsPruned]]'s df cutoff on the index side; at
    * corpus-dedup thresholds the banded-MinHash route (d6's
    * `lshAutoPlan`) replaces the exact index, with this operator's
    * output contract unchanged. */
  def nearDupAdmission(incoming: DataFrame, corpus: DataFrame, n: Int = 5,
                       minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1], got $minJaccard")
    def sh(df: DataFrame, idAs: String) = df
      .select(col("doc_id").as(idAs),
        explode(array_distinct(shingle_hashes(col("text"), n))).as("sg"))
    val incSh = sh(incoming, "doc_id").localCheckpoint() // probe side ×3
    val corpSh = sh(corpus, "c_id")
    val incSz = incSh.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    val corpSz = corpSh.groupBy(col("c_id")).agg(count(lit(1)).as("nb"))
    def score(pairs: DataFrame, sizes: DataFrame, bKey: String) = pairs
      .groupBy(col("doc_id"), col(bKey)).agg(count(lit(1)).as("inter"))
      .join(incSz, Seq("doc_id"))
      .join(sizes, Seq(bKey))
      .select(col("doc_id"), col(bKey).as("blocker_id"),
        portableRound(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    val vsCorpus = score(incSh.join(corpSh, Seq("sg")), corpSz, "c_id")
    val within = score(
      incSh.join(
        incSh.select(col("doc_id").as("c_id"), col("sg")), Seq("sg"))
        .filter(col("c_id") < col("doc_id")),
      incSz.select(col("doc_id").as("c_id"), col("na").as("nb")), "c_id")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("blocker_id").asc)
    val best = vsCorpus.unionByName(within)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("blocker_id"), col("jaccard"))
    incoming.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("blocker_id").isNull.as("admitted"),
        col("blocker_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** [[ngramJaccardPairs]] with the stop-shingle escape valve for corpora
    * with mega-frequent shingles ("the end of" appearing in every doc):
    * shingles with document frequency above `dfCutoff` are dropped from the
    * CANDIDATE-generation index — the inverted-index join's output is
    * Σ df², so one shingle in n docs costs n²/2 candidate rows — and the
    * surviving candidates are then rescored EXACTLY against the full
    * shingle sets. Results equal [[ngramJaccardPairs]] for every pair that
    * shares at least one sub-cutoff shingle; near-dup pairs always do
    * (sharing most of their shingles), which the spec pins on a corpus
    * where a mega-shingle alone would have produced the full cross square.
    */
  def ngramJaccardPairsPruned(documents: DataFrame, n: Int = 5,
                              minJaccard: Double = 0.0,
                              dfCutoff: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = documents.select(col("doc_id"),
      explode(array_distinct(shingle_hashes(col("text"), n))).as("sg"))
    val rare = full.withColumn("df", count(lit(1)).over(Window.partitionBy(col("sg"))))
      .filter(col("df") <= dfCutoff)
    val cands = rare.alias("a")
      .join(rare.alias("b"), col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sizes = full.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val fb = full.select(col("doc_id").as("fb_id"), col("sg").as("fb_sg"))
    val inter = cands
      .join(full.select(col("doc_id").as("a_id"), col("sg")), "a_id")
      .join(fb, col("b_id") === col("fb_id") && col("sg") === col("fb_sg"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        portableRound(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") > minJaccard)
  }

  /** Corpus-level overlap audit: for every pair of sources, the Jaccard
    * overlap and per-side containment of their distinct n-gram shingle
    * sets — the matrix a curation run publishes to answer "how much of
    * source B is already in source A" before mixing (cross-source
    * contamination, licensing provenance, dedup-ordering decisions).
    *
    * Shape: the (source, shingle-hash) inventory is one distinct
    * aggregation (8-byte hashes, map-side deduped); the pair count is an
    * inverted-index self-join keyed on the hash whose output is bounded by
    * C(|sources|, 2) groups — source cardinality is a dimension, so the
    * result is always tiny no matter the corpus bytes. Set sizes ride a
    * broadcast. Same exchange discipline as [[ngramJaccardPairs]]: ids and
    * digests only, never text. */
  def sourceOverlap(documents: DataFrame, n: Int = 5): DataFrame = {
    val sh = documents
      .select(col("source"),
        explode(array_distinct(shingle_hashes(col("text"), n))).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    sh.alias("a")
      .join(sh.alias("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_sh").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_sh").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        portableRound(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 4).as("jaccard"),
        portableRound(col("inter").cast("double") / col("na"), 4).as("containment_a"),
        portableRound(col("inter").cast("double") / col("nb"), 4).as("containment_b"))
  }

  /** Near-dup CLUSTERS from a pair list — the step every dedup pipeline
    * needs after pair detection: assign each document to its connected
    * component and elect the minimum doc id as the canonical
    * representative (keep `doc_id == cluster_rep`, drop the rest).
    *
    * Pregel-shaped min-label propagation: every node starts as its own
    * label; each round joins labels across edges and keeps the minimum;
    * fixpoint when no label changes. Rounds needed = component diameter —
    * near-dup clusters are small and dense, so a handful. Each round is
    * one shuffle join + aggregate (the distributed-graph shape; the
    * per-round `count` action is the convergence test, intrinsic to any
    * fixpoint algorithm). Every round `localCheckpoint`s its labels —
    * without that the plan tree deepens each iteration until tree
    * traversal itself overflows, and every action replays all prior
    * rounds; with it each round starts from materialized blocks. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    duplicateClustersWithRounds(pairs, maxIters)._1

  /** [[duplicateClusters]] exposing the number of large/small-star rounds
    * executed — the observable the convergence spec pins (a path graph of
    * length n must close in O(log n) rounds, where plain min-label
    * propagation needs n−1). */
  def duplicateClustersWithRounds(pairs: DataFrame,
                                  maxIters: Int = 25): (DataFrame, Int) = {
    // Alternating large-star / small-star (Kiveris et al., "Connected
    // Components in MapReduce and Beyond", SOCC'14): each round is two
    // grouped-min + join passes over the edge list, and the edge set
    // converges to stars (node → component-min) in O(log diameter) rounds
    // — star graphs collapse in O(1), long chains in log₂ — where one-hop
    // min-label propagation needs diameter rounds. Every round
    // localCheckpoints: the plan tree must not deepen per iteration.
    //
    //   large-star(u): connect every neighbor v > u to m = min(Γ(u) ∪ {u})
    //   small-star(u): orient edges (max,min); connect every v ∈ Γ≤(u) and
    //                  u itself to m = min(Γ≤(u) ∪ {u})
    // Both preserve connectivity; small-star strictly shrinks labels.
    // node universe from the RAW pair list: a doc whose only pair is a
    // self-loop must still appear in the labeling (as its own rep), even
    // though the self-edge contributes nothing to connectivity.
    // localCheckpoint the pair list ONCE before deriving anything: it is
    // typically an expensive near-dup query (shingle join / LSH), and
    // without the cut it would replay under the first edge
    // materialization AND again under the final labels join — at sf0.1
    // that replay alone more than doubled d7/d8
    val p = pairs.select(col("a_id"), col("b_id")).localCheckpoint()
    val allNodes = p.select(col("a_id").as("u"))
      .union(p.select(col("b_id").as("u"))).distinct()
    val fwd = p.select(col("a_id").as("u"), col("b_id").as("v"))
      .filter(col("u") =!= col("v"))
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bi.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      bi.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // fixpoint probe: both sides are distinct()-canonical sets, so
    // (count, exact decimal sums of TWO independent per-edge hashes) is a
    // multiset signature — equal signatures ⇒ equal sets up to a
    // 2⁻¹²⁸-class double collision between SUCCESSIVE rounds of the same
    // shrinking graph (and maxIters still bounds the loop if the
    // impossible happens). The second hash prepends a salt literal, which
    // changes every block input — the two sums collide independently.
    // Still one aggregation job per round, vs count + except anti-join
    // before (measured: the except dominated round cost on d8/d9 paths).
    def signature(df: DataFrame)
        : (Long, Option[java.math.BigDecimal], Option[java.math.BigDecimal]) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        sum(xxhash64(lit(0x9e3779b97f4a7c15L), col("u"), col("v"))
          .cast("decimal(38,0)"))).head
      (r.getLong(0), Option(r.getDecimal(1)), Option(r.getDecimal(2)))
    }
    var edges = smallStar(fwd).localCheckpoint()
    var edgeSig = signature(edges)
    var converged = false
    var rounds = 1
    // star rounds are actions on the shrinking edge state: size their
    // shuffles to that state, not the session's scan default
    val spark = pairs.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, edgeSig._1)) {
      while (!converged) {
        val next = smallStar(largeStar(edges)).localCheckpoint()
        // the check runs even when rounds == maxIters: an already-converged
        // graph must never throw, whatever the cap (maxIters bounds
        // REFINING rounds)
        val nextSig = signature(next)
        converged = nextSig == edgeSig
        edges = next
        edgeSig = nextSig
        if (!converged) {
          rounds += 1
          if (rounds > maxIters) throw new IllegalStateException(
            s"duplicateClusters did not converge in $maxIters rounds " +
              "— raise maxIters for this graph")
        }
      }
    }
    // stars: every non-root points at its component min; roots (and
    // self-loop-only isolates) are their own
    val labels = allNodes.join(edges, Seq("u"), "left")
      .select(col("u").as("doc_id"), coalesce(col("v"), col("u")).as("cluster_rep"))
    (labels, rounds)
  }

  /** Embedding-cosine near-dup pairs — candidate source chosen from PLAN
    * STATISTICS, the same way Spark picks broadcast vs shuffle joins:
    * below `spark.graft.neardup.bruteMaxBytes` (default 32 MB ≈ 120k
    * 64-dim float vectors) the exact blocked self-join runs; above it the
    * pair source switches to banded LSH buckets
    * ([[Similarity.annCandidates]], multi-table, hamming-≤2 multiprobe)
    * and only bucket-mates are scored. Both paths share the exact scoring
    * stage, so a pair that IS emitted always carries its true cosine.
    *
    * Why the small side stays brute (measured, not guessed): the fixture's
    * qualifying pairs sit at cosine 0.35–0.51 — the 3σ tail of RANDOM
    * 64-dim pairs, not near-dup clusters. At that similarity a hyperplane
    * splits a pair with p ≈ 0.37–0.39, so any sign-LSH config with recall
    * ~1.0 must union enough tables that its candidate set costs MORE than
    * the n² scan it replaces (the math is in SCALE.md §near-dup). Corpus-
    * scale near-dup thresholds (≥ 0.8, split-p ≤ 0.21) are where the LSH
    * path prunes by orders of magnitude — and that is the regime the
    * stats switch selects it for. */
  def cosinePairs(embeddings: DataFrame, minCosine: Double): DataFrame = {
    val conf = embeddings.sparkSession.conf
    val bruteMax = BigInt(conf.get("spark.graft.neardup.bruteMaxBytes",
      (32L * 1024 * 1024).toString).toLong)
    val planBytes = embeddings.queryExecution.optimizedPlan.stats.sizeInBytes
    if (planBytes <= bruteMax) cosinePairsBrute(embeddings, minCosine)
    else cosinePairsLshAuto(embeddings, minCosine)
  }

  /** Exact all-pairs scoring (the small-corpus / oracle twin). */
  def cosinePairsBrute(embeddings: DataFrame, minCosine: Double): DataFrame = {
    // norms computed once per vector, not per pair: the pair kernel drops
    // from 3 accumulations to one dot product. dot/(na*nb) with sequential
    // double accumulation is bit-identical to DuckDB's
    // list_cosine_similarity over DOUBLE[] (measured maxdiff = 0.0).
    val normed = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
    val a = normed.select(col("vec_id").as("a_id"), col("embedding").as("ea"), col("norm").as("na"))
    val b = normed.select(col("vec_id").as("b_id"), col("embedding").as("eb"), col("norm").as("nb"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        portableRound(dot_product(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** The scale path: LSH bucket candidates, exactly rescored. Same output
    * columns and scoring arithmetic as [[cosinePairsBrute]] (norms
    * precomputed per vector, one dot product per pair); the result is a
    * subset whose recall is set by the threshold-driven
    * [[Similarity.lshPlan]] config — see the recall gate in DedupSpec and
    * the d6 driver gate. */
  def cosinePairsLsh(embeddings: DataFrame, minCosine: Double,
                     planes: Int = 6, dim: Int = 64,
                     targetRecall: Double = 0.9999): DataFrame =
    Similarity.annCandidates(embeddings, minCosine, planes, dim, targetRecall)
      .select(col("a_id"), col("b_id"),
        portableRound(dot_product(col("ea"), col("eb")) /
          (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)

  /** [[cosinePairsLsh]] with the whole `(planes, radius, tables)` config
    * cost-ranked from the corpus count ([[Similarity.lshAutoPlan]]):
    * log-scaled planes where bucketing pays (candidate work then scales
    * with the corpus, not its square), the historical planes=6 where the
    * threshold forces near-enumeration anyway. The pinned form above
    * stays for specs/oracles that need a static plan. */
  def cosinePairsLshAuto(embeddings: DataFrame, minCosine: Double,
                         dim: Int = 64,
                         targetRecall: Double = 0.9999): DataFrame =
    Similarity.annCandidatesAuto(embeddings, minCosine, dim, targetRecall)
      .select(col("a_id"), col("b_id"),
        portableRound(dot_product(col("ea"), col("eb")) /
          (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)

  /** Plane count that keeps the expected sign-bucket population at
    * `targetBucket` = O(1): ceil(log2(n / targetBucket)), floored at 1.
    * Bucket count then grows ∝ N, so within-bucket pair work is
    * ~N · (targetBucket − 1)/2 per probe — LINEAR in the corpus — and the
    * probe fan-out is C(planes, ≤radius) = polylog(N). The earlier sizing
    * (~log2(√N) planes → √N-sized buckets) made pair work
    * √N · C(√N, 2) ≈ N^1.5/2 — ~10^15 candidate pairs at the 10^10-vector
    * scale model, which is the wrong shape; pinned by DedupSpec's
    * per-bucket pair-volume assertion. */
  def semanticDedupPlanes(n: Long, targetBucket: Int = 4): Int = {
    require(n > 0, s"corpus size: $n")
    require(targetBucket >= 1, s"targetBucket: $targetBucket")
    math.max(1, math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
  }

  /** The d9 sign signature: bit j = sign of the dot with Achlioptas
    * plane j of the shared pure-function matrix
    * `((131·i + 419·j + 73·i·j) mod 1021 mod 3) − 1` (the i·j cross term
    * matters — see [[Similarity.randomProjection]]'s scaladoc for why an
    * affine form degenerates mod 3). */
  private[operators] def signSignature(signPlanes: Int, dim: Int): Column =
    (0 until signPlanes).map { j =>
      val plane = array((0 until dim).map { i =>
        lit((((131 * i + 419 * j + 73 * i * j) % 1021) % 3 - 1).toFloat)
      }: _*)
      (dot_product(col("embedding"), plane) > 0).cast("int") * lit(1 << j)
    }.reduce(_ + _)

  /** d9's candidate generator: id pairs whose sign signatures differ in
    * ≤ `radius` bits, via the asymmetric exactly-once mask join (each
    * qualifying pair meets on exactly one mask in exactly one direction —
    * no distinct() needed; DedupSpec pins that invariant). Join inputs
    * carry (vec_id, sig) only. */
  private[operators] def semanticCandidates(embeddings: DataFrame,
                                            signPlanes: Int, radius: Int,
                                            dim: Int = 64): DataFrame = {
    require(signPlanes >= 1 && signPlanes <= 30, s"signPlanes: $signPlanes")
    require(radius >= 0 && radius <= signPlanes, s"radius: $radius")
    val sigs = embeddings.select(col("vec_id"),
      signSignature(signPlanes, dim).as("sig"))
    val probes = sigs.select(col("vec_id"),
        explode(array(Similarity.probeMasks(signPlanes, radius)
          .map(lit(_)): _*)).as("mask"), col("sig"))
      .select(col("vec_id"), col("sig").bitwiseXOR(col("mask")).as("probe_sig"))
    sigs.alias("i")
      .join(probes.alias("p"), col("i.sig") === col("p.probe_sig") &&
        col("i.vec_id") < col("p.vec_id"))
      .select(col("i.vec_id").as("a_id"), col("p.vec_id").as("b_id"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * partition the embedding space into coarse buckets, find cosine
    * near-dups ACROSS NEARBY buckets only, connect them into clusters,
    * keep one representative per cluster. Returns the full decision
    * table — (vec_id, rep_id, is_kept) for every vector, singletons kept.
    *
    * Bucketing is the SIGNS of the first `signPlanes` Achlioptas
    * projections (emb3's matrix — a pure function of (i, j), so any
    * engine, including the DuckDB oracle, replays the buckets exactly;
    * the paper's k-means partitioner is sim3's machinery and equally
    * pluggable, but not oracle-replayable). Candidate pairs are vectors
    * whose signatures differ in ≤ `radius` bits, generated by d6's
    * ASYMMETRIC exactly-once mask scheme ([[Similarity.annCandidates]]):
    * the index side emits one bare signature per vector, the probe side
    * emits sig XOR mask for every mask of popcount ≤ radius, and the join
    * keeps index.vec_id < probe.vec_id — each qualifying pair meets on
    * exactly one mask in exactly one direction, so no distinct() is
    * needed. Pairs are scored exactly with the d5 kernel and clustered by
    * the d7 large-star/small-star CC.
    *
    * Scale: size `signPlanes` with [[semanticDedupPlanes]] so the expected
    * bucket population is O(1) — bucket count ∝ N keeps candidate-pair
    * work LINEAR in the corpus, and the hamming-≤radius multiprobe
    * (C(planes, ≤radius) masks, polylog fan-out) recovers the recall that
    * smaller buckets would otherwise lose. Both join inputs carry only
    * (vec_id, sig); embeddings re-join once per side for scoring with
    * norms precomputed — id-only shuffles, the d6 discipline. For very
    * skewed sign-spaces, raise planes (smaller buckets) rather than
    * salting — the bucket IS the blocking decision. */
  def semanticDedup(embeddings: DataFrame, minCosine: Double,
                    signPlanes: Int = 7, radius: Int = 2,
                    dim: Int = 64): DataFrame = {
    val idPairs = semanticCandidates(embeddings, signPlanes, radius, dim)
    val normed = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
    val pairs = idPairs
      .join(normed.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("norm").as("na")), "a_id")
      .join(normed.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("norm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        portableRound(dot_product(col("ea"), col("eb")) /
          (col("na") * col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
    val labels = duplicateClusters(pairs) // (doc_id, cluster_rep)
    embeddings.select(col("vec_id"))
      .join(labels, embeddings("vec_id") === labels("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_rep"), col("vec_id")).as("rep_id"))
      .withColumn("is_kept", col("vec_id") === col("rep_id"))
  }

  /** D10 — cross-document repeated-span detection (the Lee et al. 2022
    * "Deduplicating Training Data" signal): for each document, the
    * fraction of its distinct `k`-token spans that also occur in at least
    * one OTHER document. High `shared_ratio` marks boilerplate-heavy docs
    * (licence blocks, templated pages) that exact dedup misses because the
    * surrounding text differs; within-doc repetition stays t9's job
    * (spans are de-duplicated per document before counting).
    *
    * Scale shape: spans are md5 digests from the first projection on —
    * long strings never enter a shuffle. One exchange on the digest
    * computes per-span document counts as a window aggregate (distinct
    * per-doc spans ⇒ count(*) = document count), then one hash-agg
    * shuffle on doc_id rolls the verdict up: two shuffles total, both on
    * compact keys, output one row per document. At 100 TB the digest
    * group-by is the standard suffix-array substitute — linear in corpus
    * size, skew-safe under AQE because digests are uniform. */
  /** Each doc's DISTINCT k-token spans as md5 digests — the unit both
    * [[dupSpans]] and [[spanContainment]] shuffle (never span text). */
  private def spanDigests(documents: DataFrame, k: Int): DataFrame = {
    val spanArr = transform(
      sequence(lit(1), size(toks) - (k - 1)),
      i => array_join(slice(toks, i, lit(k)), " "))
    documents
      .filter(size(toks) >= k)
      .select(col("doc_id"), explode(array_distinct(spanArr)).as("span"))
      .select(col("doc_id"), md5(col("span")).as("h"))
  }

  def dupSpans(documents: DataFrame, k: Int = 8,
               maxSharedRatio: Double = 0.2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    spanDigests(documents, k)
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(
        col("doc_id"), col("n_spans"), col("n_shared"),
        portableRound(col("n_shared").cast("double") / col("n_spans"), 4)
          .as("shared_ratio"),
        (portableRound(col("n_shared").cast("double") / col("n_spans"), 4)
          > maxSharedRatio).as("flagged"))
  }

  /** D11 — cross-document CONTAINMENT detection (the directional signal
    * d10's symmetric ratio can't give): for every candidate pair, the
    * fraction of each side's distinct k-token spans that the other side
    * also has — containment ≈ 1 on one side means "this document is a
    * copy/subset of that one" (quote farms, boilerplate wrappers,
    * re-posted articles), which keep-best dedup treats differently from
    * mutual overlap.
    *
    * Candidates come ONLY from spans shared by 2..`maxDf` documents: the
    * df ceiling is the blocking bound — a ubiquitous span (a common
    * phrase) never generates pairs, so pair work is Σ_rare-span C(df,2)
    * ≤ maxDf·|rare spans|, not corpus². Everything shuffles as (id,
    * digest) pairs; span text never leaves the map side.
    *
    * Output per candidate pair: span counts, shared count, directional
    * containments (rounded), and the `contained` verdict at
    * `threshold`. */
  /** D12 — repeated-span REMOVAL (Lee et al. 2022, the ExactSubstr step
    * that actually SHRINKS a corpus): excise from every document each
    * k-token span whose digest occurs in ≥ `minDocs` distinct documents,
    * keep the remainder, and report the cut. d10 flags the signal and
    * d11 orients it; this performs the surgery — per doc, every token
    * covered by at least one corpus-repeated span is dropped and the
    * survivors re-join in order.
    *
    * Output per document: `n_tokens` (before), `n_hit_spans` (repeated
    * span START positions in this doc), `n_removed` (tokens cut),
    * `chars_removed` (length delta of the single-space token join — the
    * byte shrink on an ASCII corpus), `removed_ratio` (1e-4 grid) and
    * `cleaned_text`. Deterministic string surgery, replayable
    * token-for-token in SQL.
    *
    * Scale shape: the df table is [[spanDigests]]' one digest-keyed
    * exchange (distinct per doc ⇒ count(*) = df, map-side combinable);
    * span OCCURRENCES shuffle as (doc_id, position, digest) — never span
    * text — and only the df-qualified hits survive the join; hit
    * positions roll up per doc (collect_set is order-free and bounded by
    * the doc's own span count), and the cut itself is one in-row
    * projection against the re-joined document. Three compact-key
    * exchanges, text crosses one doc-keyed join. */
  def removeDupSpans(documents: DataFrame, k: Int = 8,
                     minDocs: Int = 3, keepFirst: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // keepFirst = the Lee et al. policy proper: ONE canonical copy of
    // each repeated span survives (the min-doc_id carrier keeps its
    // occurrences; every other carrier is cut) — the corpus keeps the
    // information once instead of losing it everywhere. keepFirst=false
    // (d12) excises the span from ALL carriers — the boilerplate-strip
    // reading. Same exchanges either way: the df rollup just also
    // carries min(doc_id).
    val repeated = spanDigests(documents, k)
      .groupBy(col("h")).agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("keeper"))
      .filter(col("df") >= minDocs)
      .select(col("h"), col("keeper"))
    val occ = documents.filter(size(toks) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => md5(array_join(slice(toks, i, lit(k)), " ")))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("i"), col("h"))
    val hitOcc = occ.join(repeated, "h")
    val hits = (if (keepFirst) hitOcc.filter(col("doc_id") =!= col("keeper"))
                else hitOcc)
      .groupBy(col("doc_id")).agg(collect_set(col("i")).as("hit_i"))
    // The cut: surviving positions are the GAPS between the sorted hit
    // spans — one ordered walk carrying a cursor (first position not yet
    // covered), emitting [cursor, h-1] before each hit and advancing the
    // cursor past the span's end. O(hits + kept) per row where the naive
    // per-position `exists` over hit_i is O(tokens × hits) — on the
    // boilerplate-heavy doc this operator targets (hits ≈ tokens) that
    // was quadratic in doc length. Same kept set: a position survives
    // iff no hit h has h <= p <= h+k-1, which is exactly "p sits in a
    // gap of the sorted span union".
    val seqIf = (a: Column, b: Column) =>
      when(a <= b, sequence(a, b)).otherwise(array().cast("array<int>"))
    val kept = aggregate(
      array_sort(col("hit_i")),
      struct(lit(1).cast("int").as("cur"),
        array().cast("array<int>").as("keep")),
      (acc, h) => struct(
        greatest(acc.getField("cur"), (h + lit(k)).cast("int")).as("cur"),
        concat(acc.getField("keep"),
          seqIf(acc.getField("cur"), h - 1)).as("keep")),
      acc => concat(acc.getField("keep"),
        seqIf(acc.getField("cur"), size(col("tk")).cast("int"))))
    documents.select(col("doc_id"), toks.as("tk"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        coalesce(col("hit_i"), array().cast("array<int>")).as("hit_i"))
      .select(col("doc_id"), col("tk"), size(col("hit_i")).as("n_hit_spans"),
        transform(kept, p => element_at(col("tk"), p)).as("kept"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        col("n_hit_spans").cast("long").as("n_hit_spans"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        (length(array_join(col("tk"), " "))
          - length(array_join(col("kept"), " "))).cast("long")
          .as("chars_removed"),
        portableRound((size(col("tk")) - size(col("kept"))).cast("double")
          / size(col("tk")), 4).as("removed_ratio"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  def spanContainment(documents: DataFrame, k: Int = 8, maxDf: Int = 5,
                      threshold: Double = 0.8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // the digest table feeds FIVE consumers (df filter, both candidate
    // sides, per-doc counts, the intersection recount): pin it once
    // (pr1/d7 localCheckpoint discipline) instead of re-running the
    // explode+md5 scan per consumer
    val ex = spanDigests(documents, k).localCheckpoint()
    val ea = ex.select(col("doc_id").as("a_id"), col("h"))
    val eb = ex.select(col("doc_id").as("b_id"), col("h"))
    val rare = ex.groupBy(col("h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select(col("h"))
    val cand = ea.join(rare, "h").join(eb, "h")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val counts = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = cand
      .join(ea, "a_id")
      .join(eb, Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
    val ca = portableRound(col("n_shared").cast("double") / col("n_a"), 4)
    val cb = portableRound(col("n_shared").cast("double") / col("n_b"), 4)
    shared
      .join(counts.select(col("doc_id").as("a_id"), col("n").as("n_a")), "a_id")
      .join(counts.select(col("doc_id").as("b_id"), col("n").as("n_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"), col("n_shared"),
        ca.as("containment_a"), cb.as("containment_b"),
        (ca >= threshold || cb >= threshold).as("contained"))
  }

  /** CLQ1 — near-dup cluster purity audit: the chain-merge (transitive
    * over-merge) check on [[duplicateClusters]]' connected components.
    * CC-based dedup glues A–B–C into one cluster even when jaccard(A, C)
    * is ~0 — the classic failure mode of transitive-closure near-dup at
    * corpus scale (why production MinHash pipelines cap cluster sizes
    * and audit their components). Per cluster (size ≥ 2): member and
    * edge counts, edge density vs the clique bound, the weakest edge,
    * the minimum over ALL member pairs (0 when some pair shares no
    * shingle at all — the smoking gun of a pure chain merge), and a
    * `chained` flag for any non-clique component.
    *
    * Determinism: jaccards on d4's 1e-4 grid, means as micro-unit
    * BIGINTs, min/count exact — a FULL oracle replaying d7's recursive-
    * CTE components plus the same accounting.
    *
    * Scale shape: the pair stream is d4's inverted-index candidate join
    * (never all-pairs — only co-shingle pairs score); the CC is d7's
    * O(log diameter) star contraction; the audit itself adds label
    * joins keyed doc_id and one rollup keyed cluster_rep. In-cluster
    * un-scored pairs are NOT materialized — `n_scored < n_possible`
    * proves a zero-jaccard pair exists without generating it, so no
    * cluster², however large the component. */
  def clusterPurity(documents: DataFrame, n: Int = 3,
                    minJaccard: Double = 0.6): DataFrame = {
    // pass 1: the d7 stream exactly — only ≥-threshold pairs ever
    // materialize (the first cut of this audit checkpointed ALL
    // co-shingle pairs corpus-wide and paid 13.4× at the second decade
    // vs d7's 5.4×, SCALE.md §continuation-3; sub-threshold pairs are
    // only ever consumed WITHIN clusters, so score them there)
    val edges = ngramJaccardPairsMapCount(documents, n, minJaccard)
    val clusters = duplicateClusters(edges).localCheckpoint()
    // pass 2: re-score pairs among CLUSTER MEMBERS only — a
    // cluster-bounded frame however big the corpus; within-cluster
    // sub-threshold pairs (the chain-merge evidence) all appear here
    val scored = ngramJaccardPairsMapCount(
      documents.join(clusters.select(col("doc_id")), Seq("doc_id"),
        "left_semi"), n, 0.0)
    val sizes = clusters.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"))
    val la = clusters.select(col("doc_id").as("a_id"),
      col("cluster_rep").as("rep_a"))
    val lb = clusters.select(col("doc_id").as("b_id"),
      col("cluster_rep").as("rep_b"))
    val isEdge = col("jaccard") > minJaccard
    val microJ = portableRound(col("jaccard") * 10000.0, 0).cast("long")
    val agg = scored.join(la, "a_id").join(lb, "b_id")
      .filter(col("rep_a") === col("rep_b"))
      .select(col("rep_a").as("cluster_rep"), col("jaccard"))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(isEdge, 1L).otherwise(0L)).as("n_edges"),
        min(col("jaccard")).as("_min_scored"),
        min(when(isEdge, col("jaccard"))).as("min_edge_jac"),
        sum(when(isEdge, microJ)).as("_me"))
    val nPoss = (col("n_docs") * (col("n_docs") - 1) / 2).cast("long")
    sizes.join(agg, "cluster_rep")
      .select(col("cluster_rep"), col("n_docs"),
        nPoss.as("n_possible"), col("n_scored"), col("n_edges"),
        portableRound(col("n_edges").cast("double") / nPoss, 4)
          .as("edge_density"),
        when(col("n_scored") < nPoss, 0.0).otherwise(col("_min_scored"))
          .as("min_pair_jac"),
        col("min_edge_jac"),
        portableRound(col("_me").cast("double") / 10000.0 / col("n_edges"), 4)
          .as("mean_edge_jac"),
        (col("n_edges") < nPoss).as("chained"))
  }
}
