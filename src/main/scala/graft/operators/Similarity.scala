package graft.operators

import graft.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, dim 64).
  *
  *   - [[bruteForceTopK]] — the exactness baseline: broadcast the (small)
  *     query set against the full corpus, score with the codegen'd
  *     [[graft.functions.CosineSimilarity]] expression, per-query top-k via a
  *     window. The corpus side streams — linear scan, no shuffle of the
  *     corpus, so it scales to any corpus size (cost is queries × corpus).
  *   - [[annTopK]] — the scale path: random-hyperplane LSH signatures bucket
  *     the corpus; queries probe their own bucket plus all hamming-1
  *     neighbors, and only those candidates are scored. Corpus-side work
  *     becomes queries × bucket-size instead of queries × corpus.
  */
object Similarity {

  /** Hard-negative mining for contrastive training data: per anchor, the
    * top-k most similar candidates INSIDE the cosine band `[loCos, hiCos)`
    * — similar enough to be informative negatives, strictly below the
    * positive/duplicate threshold (the anchor's own near-dup twin falls
    * above `hiCos` and is excluded by construction). This registered form
    * is the exact band-filtered scan with a full oracle; at corpus scale
    * the candidate side routes through the same signature machinery as
    * [[annTopK]] (the band's upper bound excludes the near-dup buckets,
    * scoring stays per-candidate), and the scored exchange carries ids +
    * one rounded double per pair — never payloads. */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame, k: Int,
                    loCos: Double, hiCos: Double): DataFrame = {
    require(loCos < hiCos, s"band must satisfy lo < hi, got [$loCos, $hiCos)")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = embeddings.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
      .filter(col("cosine") >= loCos && col("cosine") < hiCos)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[hardNegatives]] through the ANN index — the corpus-scale route:
    * retrieve the top `k + slack` approximate neighbors per anchor (the
    * positives occupy the top slots; `slack` must exceed the expected
    * positive count), band-filter, re-rank inside the band, keep k. Same
    * candidate economics as [[annTopKAuto]] (signature buckets + multi-
    * probe, ids-only exchanges); its recall contract vs the exact band
    * scan is driver-checked by the hn2 gate. */
  def hardNegativesAnn(embeddings: DataFrame, queries: DataFrame, k: Int,
                       loCos: Double, hiCos: Double,
                       tables: Int = 16, slack: Int = 8): DataFrame = {
    require(loCos < hiCos, s"band must satisfy lo < hi, got [$loCos, $hiCos)")
    require(slack >= 1, s"slack must be >= 1, got $slack")
    val wide = annTopKAuto(embeddings, queries, k + slack, tables = tables)
    val band = wide.filter(col("cosine") >= loCos && col("cosine") < hiCos)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    band.select(col("q_id"), col("n_id"), col("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k neighbors for each query vector (query set must be small —
    * it is broadcast). Output: q_id, n_id, cosine, rank. */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = embeddings.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** LAB1 — semi-supervised kNN label propagation, evaluated: hide the
    * labels of a hash fold of the corpus, predict each hidden vector's
    * label by MAJORITY VOTE of its k nearest labeled neighbors (exact
    * cosine, ties at equal vote count to the smallest label — fully
    * deterministic), and report the confusion matrix against the true
    * labels. This is the weak-supervision primitive a labeling pipeline
    * runs before paying for annotations: if held-out accuracy is high,
    * the embedding space carries the label and the unlabeled mass can be
    * auto-labeled (with the confusion matrix pricing the error).
    *
    * The neighbor search here is the EXACT brute form
    * ([[bruteForceTopK]]) so the vote semantics are oracle-pinned; a
    * production pass swaps in the ANN candidate stream (sim2's LSH /
    * sim3's IVF / pq3's batch route) with the vote unchanged — the same
    * exact-vs-ANN split every retrieval row in this file follows. Scale
    * shape of the vote itself: one neighbor-label join on vec_id, one
    * (q_id, label) count aggregate, one per-q_id argmax window over ≤ k
    * rows, one confusion rollup — all linear past the kNN stage. */
  def knnLabelSpread(embeddings: DataFrame, k: Int = 5, folds: Int = 10,
                     trainFolds: Int = 8): DataFrame = {
    require(k >= 1 && folds >= 2 && trainFolds >= 1 && trainFolds < folds,
      s"bad split: k=$k folds=$folds trainFolds=$trainFolds")
    val fold = Sampling.hashBucket(
      concat(lit("lab-split:"), col("vec_id").cast("string")), folds)
    val labeled = embeddings.filter(fold < trainFolds)
    val hidden = embeddings.filter(fold >= trainFolds)
    val knn = bruteForceTopK(labeled, hidden.select(col("vec_id"), col("embedding")), k)
    val votes = knn
      .join(labeled.select(col("vec_id").as("n_id"),
        col("label").cast("long").as("n_label")), "n_id")
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("v").desc, col("n_label").asc)
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"))
    pred
      .join(hidden.select(col("vec_id").as("q_id"),
        col("label").cast("long").as("true_label")), "q_id")
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** BITEXT1 — margin-based parallel-pair mining (Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019; the LASER/CCMatrix recipe): candidate
    * translation pairs between two embedding sides are scored by the
    * RATIO margin — cosine divided by the mean of each side's top-k
    * neighborhood cosines — which normalizes away hubness (a vector
    * whose neighborhood is uniformly hot scores no margin), and a pair
    * is emitted when it is a MUTUAL top-1 match, flagged `mined` when
    * its margin clears `marginThresh`. True translations read
    * margin ≫ 1; random mutual neighbors read ≈ 1.
    *
    * Exactness: cosines land on the 1e-4 grid first; each side's
    * neighborhood mean folds as micro-unit BIGINTs back onto the grid;
    * the margin is one IEEE division of grid values, micro-rounded —
    * digit-exact in the oracle. Scale shape: this registered form is
    * the eval arm — one cross score pass, then exactly TWO exchanges:
    * each side's rank AND its top-k neighborhood sum ride the SAME
    * partitioning (the sum is a windowed aggregate over the rank's own
    * partition key — no join-back, no second pass; a first cut joined
    * the neighborhood means back and paid 6 exchanges for the same
    * answer). At corpus scale the pair stream comes from the ANN index
    * instead (pq3's batch route, hn2's precedent): both directions'
    * top-k candidate lists are Θ(n·k) rows, and every step here
    * already runs on exactly that shape — candidate generation swaps,
    * margin math unchanged. Assumes both sides have ≥ k vectors (the
    * neighborhood mean divides by k). */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 marginThresh: Double = 1.2): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val sc0 = src.select(col("a_id"), col("emb").as("ae"))
      .crossJoin(tgt.select(col("b_id"), col("emb").as("be")))
      .select(col("a_id"), col("b_id"),
        portableRound(cosine_similarity(col("ae"), col("be")), 4).as("c"))
    marginFold(sc0, k, marginThresh)
  }

  /** The margin fold shared by [[marginMine]] (exact pair stream) and
    * [[marginMineAnn]] (LSH candidate stream): per-direction rank and
    * top-k neighborhood sum on ONE partitioning each, mutual-top-1
    * filter and the ratio margin in-row — two exchanges total. */
  private def marginFold(scored: DataFrame, k: Int,
                         marginThresh: Double): DataFrame = {
    def micro4(c: Column) = floor(c * 10000.0 + 0.5).cast("long")
    def gridMean(sumMicro: Column) =
      floor(sumMicro.cast("double") / k + 0.5) / 10000.0
    val wA = Window.partitionBy(col("a_id")).orderBy(col("c").desc, col("b_id").asc)
    val wB = Window.partitionBy(col("b_id")).orderBy(col("c").desc, col("a_id").asc)
    val rk = scored
      .withColumn("rka", row_number().over(wA))
      .withColumn("suma", sum(when(col("rka") <= k, micro4(col("c"))))
        .over(Window.partitionBy(col("a_id"))))
      .withColumn("rkb", row_number().over(wB))
      .withColumn("sumb", sum(when(col("rkb") <= k, micro4(col("c"))))
        .over(Window.partitionBy(col("b_id"))))
    val margin = portableRound(
      col("c") / ((gridMean(col("suma")) + gridMean(col("sumb"))) / 2.0), 6)
    rk.filter(col("rka") === 1 && col("rkb") === 1)
      .select(col("a_id"), col("b_id"), col("c").as("cosine"),
        margin.as("margin"), (margin >= marginThresh).as("mined"))
  }

  /** [[marginMine]] through the LSH candidate stream — the 100 TB route:
    * both sides are corpus-sized ("two languages"), so candidates come
    * from a signature-keyed SHUFFLE join (the d6 both-sides-big pattern,
    * never a broadcast): multi-table sign-LSH signatures on side A join
    * side B's hamming-`radius` probe expansions, id pairs dedup, and
    * ONLY those pairs are scored. The margin fold is [[marginFold]]
    * verbatim — neighborhood means are taken over each node's candidate
    * list (the standard practical form: Artetxe & Schwenk's published
    * recipe also margins over approximate k-nn lists). Approximate by
    * design (no full oracle); the bitext2 gate pins planted-pair
    * recovery and recall of the exact arm's high-margin band.
    *
    * Scale shape: Θ(n) signature streams, bucket-sized candidate
    * groups under the plane/table design, Θ(candidates) scoring — the
    * whole pipeline is id-and-signature compact until the final scored
    * pairs. */
  /** [[marginMineAnn]] with the whole (planes, radius, tables) design
    * cost-ranked by [[lshAutoPlan]] at the MINING band (`minCosine` —
    * the cosine a true translation pair clears; 0.9 for an aligned
    * encoder) — the form a pipeline calls. Two wrong designs measured
    * on the way here, both caught by the 10× sweep: pinned planes read
    * ~n²/2^planes candidate rows (the d6 lesson — 16 tables × hamming-1
    * probes over n/64 buckets at 20k vectors), and [[autoLshDesign]]'s
    * recall compensation at its 0.8 design cosine grew tables 22→55
    * over the same decade (41× wall at 10× data). Mining only needs
    * recall on the HIGH-cosine band — the margin threshold discards
    * sub-band pairs anyway — and at 0.9 the cost-ranked plan holds
    * 0.999 recall with single-digit tables; random mutual neighbors
    * below the band may be missed by design. */
  def marginMineAnnAuto(src: DataFrame, tgt: DataFrame, k: Int = 4,
                        marginThresh: Double = 1.2, dim: Int = 64,
                        minCosine: Double = 0.9,
                        targetRecall: Double = 0.999): DataFrame = {
    val n = math.min(src.count(), tgt.count())
    val (planes, radius, tables) = lshAutoPlan(n, minCosine, targetRecall)
    marginMineAnn(src, tgt, k, marginThresh, planes, dim, tables, radius)
  }

  def marginMineAnn(src: DataFrame, tgt: DataFrame, k: Int = 4,
                    marginThresh: Double = 1.2, planes: Int = 6,
                    dim: Int = 64, tables: Int = 8,
                    radius: Int = 1): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val sigsA = src.select(col("a_id"),
        posexplode(hyperplane_signatures(col("emb"), planes, dim, tables)))
      .select(col("a_id"), col("pos").as("tbl"), col("col").as("sig"))
    val probesB = tgt.select(col("b_id"),
        posexplode(hyperplane_signatures(col("emb"), planes, dim, tables)))
      .select(col("b_id"), col("pos").as("ptbl"), col("col").as("bsig"))
      .select(col("b_id"), col("ptbl"),
        explode(array(probeMasks(planes, radius).map(lit(_)): _*)).as("mask"),
        col("bsig"))
      .select(col("b_id"), col("ptbl"),
        col("bsig").bitwiseXOR(col("mask")).as("probe_sig"))
    val pairs = sigsA
      .join(probesB, col("tbl") === col("ptbl") &&
        col("sig") === col("probe_sig"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val scored = pairs
      .join(src.select(col("a_id"), col("emb").as("ae")), "a_id")
      .join(tgt.select(col("b_id"), col("emb").as("be")), "b_id")
      .select(col("a_id"), col("b_id"),
        portableRound(cosine_similarity(col("ae"), col("be")), 4).as("c"))
    marginFold(scored, k, marginThresh)
  }

  /** HUB1 — hubness audit of an embedding space (Radovanović, Nanopoulos
    * & Ivanović, "Hubs in Space", JMLR 2010): the distribution of
    * k-OCCURRENCE — how many other vectors' exact-cosine top-k lists a
    * vector appears in (the in-degree of the kNN digraph). High positive
    * skew means hub vectors dominate neighbor lists, which silently
    * degrades every kNN consumer in this repo (lab1's votes, sim4's
    * graph, bitext mining — hubness is exactly why marginMine's ratio
    * margin exists; Artetxe & Schwenk normalize by the neighborhood mean
    * to cancel it). Output: the k-occurrence histogram plus the mean
    * (= k by construction: every vector emits k edges) and the
    * moment skewness, both replicated per row for the oracle.
    *
    * Exactness: occurrence counts are integers; moments fold as exact
    * BIGINT power sums (x ≤ n, x³·n fits a long through fixture scales —
    * at ≥ ~100k vectors switch the sums to centered doubles), and the
    * skew is IEEE arithmetic on those integers, micro-rounded. Scale:
    * this registered form scores all pairs (the eval arm, bitext1's
    * precedent); at corpus scale the kNN edges come from the ANN
    * candidate stream (sim4's route) and everything from the in-degree
    * count on is unchanged — one id-keyed count + one histogram rollup.
    * The occ frame is localCheckpoint'ed: its two consumers (histogram,
    * moments) must not re-run the quadratic scoring. */
  def hubnessAudit(embeddings: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val sc = e.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .crossJoin(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    val knn = sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val occ = e.select(col("vec_id"))
      .join(knn.groupBy(col("n_id")).agg(count(lit(1)).as("c")),
        col("vec_id") === col("n_id"), "left")
      .select(col("vec_id"), coalesce(col("c"), lit(0L)).as("k_occ"))
      .localCheckpoint() // two consumers: never re-run the pair scoring
    val mom = occ.agg(
      count(lit(1)).as("n"),
      sum(col("k_occ")).as("s1"),
      sum(col("k_occ") * col("k_occ")).as("s2"),
      sum(col("k_occ") * col("k_occ") * col("k_occ")).as("s3"))
    val nD = col("n").cast("double")
    val m = col("s1").cast("double") / nD
    val variance = col("s2").cast("double") / nD - m * m
    val m3 = col("s3").cast("double") / nD -
      lit(3.0) * m * (col("s2").cast("double") / nD) + lit(2.0) * m * m * m
    occ.groupBy(col("k_occ"))
      .agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(mom))
      .select(col("k_occ"), col("n_vectors"),
        portableRound(m, 6).as("mean_k_occ"),
        portableRound(m3 / pow(variance, 1.5), 6).as("skewness"))
  }

  /** BQ1 — binary (sign) quantization with Hamming candidate generation
    * and exact rerank (Charikar, STOC 2002 sign-random-projection; the
    * 1-bit end of the emb1/emb5 compression axis — 32× smaller than
    * int8, the "binary quantization" format production vector stores
    * ship): code each vector as 64 sign bits packed into two 32-bit
    * words, serve candidates by Hamming distance (XOR + popcount, pure
    * integer ALU), and report BOTH recalls against the exact float
    * top-`k` — the raw Hamming top-`k` and the Hamming top-`candK`
    * after an exact-cosine RERANK — the two-stage serving pattern a
    * binary index actually deploys (cheap code scan, float touch only
    * on `candK` rows per query).
    *
    * Fully deterministic (sign bits, integer Hamming, 1e-4-grid
    * cosines, every rank tie-breaking on n_id), so unlike the LSH gates
    * this is a FULL oracle: DuckDB replays pack → XOR/popcount → both
    * rankings → the intersections digit for digit.
    *
    * Scale shape: the code projection is one codegen'd pass (16
    * bytes/vector of state); the query arm BROADCASTS ([[bruteForceTopK]]'s
    * audit shape) so the corpus only streams; a production serve keeps
    * codes in memory and reads float vectors for the rerank rows alone. */
  def binaryHammingRecall(embeddings: DataFrame, nQueries: Int = 10,
                          candK: Int = 20, k: Int = 5): DataFrame = {
    require(candK >= k && k >= 1, s"need candK >= k >= 1: $candK, $k")
    // sign bits of dims [start, start+32) packed little-endian into a
    // non-negative long (two 32-bit words: no 2^63 overflow on either
    // engine; XOR/popcount over two words is the same ALU count)
    def packWord(start: Int): Column = aggregate(
      transform(slice(col("embedding"), start, 32),
        (x, i) => when(x > 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
    val coded = embeddings
      .select(col("vec_id"), col("embedding"),
        packWord(1).as("code_lo"), packWord(33).as("code_hi"))
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
    val scored = coded
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"),
        col("code_lo"), col("code_hi"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("qe"), col("ne"),
        (bit_count(col("q_lo").bitwiseXOR(col("code_lo"))) +
          bit_count(col("q_hi").bitwiseXOR(col("code_hi")))).as("hamming"))
    val wH = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming").asc, col("n_id").asc)
    val cand = scored.withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= candK)
      .localCheckpoint() // two consumers: raw top-k arm + rerank arm
    val rawTop = cand.filter(col("hrank") <= k)
      .select(col("q_id"), col("n_id"))
    val wC = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    val rerankTop = cand
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
      .withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= k)
      .select(col("q_id"), col("n_id"))
    val exact = bruteForceTopK(embeddings,
        embeddings.filter(col("vec_id") < nQueries), k)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint() // three consumers: totals + two intersections
    val hitsRaw = exact.join(rawTop, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits_binary"))
    val hitsRr = exact.join(rerankTop, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits_reranked"))
    exact.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hitsRaw).crossJoin(hitsRr)
      .select(col("n_queries"), col("n_exact"),
        col("n_hits_binary"), col("n_hits_reranked"),
        portableRound(col("n_hits_binary").cast("double") / col("n_exact"), 4)
          .as("recall_binary"),
        portableRound(col("n_hits_reranked").cast("double") / col("n_exact"), 4)
          .as("recall_reranked"))
  }

  /** SSP1 — self-supervised-prototype data pruning (Sorscher et al.,
    * NeurIPS 2022, "Beyond neural scaling laws: beating power law
    * scaling via data pruning"): cluster the corpus with the kmeans1
    * lloyd chain verbatim, score every example by the (squared L2)
    * distance to its assigned prototype, and KEEP the hardest
    * `keepFrac` of each cluster — the plentiful-data policy from the
    * paper (far-from-prototype examples carry the most signal; the
    * easy, prototypical mass is what a big-corpus pruning pass drops).
    * Per-cluster accounting row: sizes, the keep-boundary distance, and
    * micro-exact mean distances of the kept vs dropped halves — the
    * audit that shows the pruned mass really was the prototypical mass.
    *
    * Determinism is [[lloydClusters]]' discipline end to end (decimal-grid
    * distances, argmin/rank ties on ids), so the oracle replays the
    * full training + rank + accounting chain — a FULL oracle, like
    * kmeans1/sil1 and unlike the LSH gates.
    *
    * Scale shape: lloyd's bill (k×dim broadcast codebook per round, one
    * data-sized shuffle per round) + ONE rank exchange keyed cid + the
    * k-row rollup. The per-cluster exact rank is the oracle-pinned
    * form; at 100 TB the keep boundary comes from a per-cluster KLL
    * quantile (kll1's mergeable sketch) in one pass and the rank
    * exchange disappears — same selection, sketch-approximate boundary. */
  def prototypePrune(embeddings: DataFrame, k: Int = 4, iters: Int = 3,
                     keepFrac: Double = 0.5): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1]: $keepFrac")
    val (_, f, cents) = lloydFit(embeddings, k, iters)
    val a = lloydAssign(f, cents)
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
        portableRound(col("dist"), 6).as("dist"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("dist").desc, col("vec_id").asc)
    val ranked = a.withColumn("rk", row_number().over(w))
      .localCheckpoint() // two consumers: cluster sizes + the keep split
    val sizes = ranked.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"))
    val micro = portableRound(col("dist") * 1000000.0, 0).cast("long")
    ranked.join(broadcast(sizes), "cid") // k rows — broadcast join-back
      .withColumn("kept",
        col("rk") <= ceil(col("n_vectors").cast("double") * keepFrac).cast("long"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("dist"))).as("cut_dist"),
        sum(when(col("kept"), micro)).as("_mk"),
        sum(when(!col("kept"), micro)).as("_md"))
      .select(col("cid"), col("n_vectors"), col("n_kept"), col("cut_dist"),
        portableRound(col("_mk").cast("double") / 1000000.0 / col("n_kept"), 6)
          .as("mean_kept"),
        when(col("n_vectors") > col("n_kept"),
          portableRound(col("_md").cast("double") / 1000000.0 /
            (col("n_vectors") - col("n_kept")), 6))
          .otherwise(lit(null).cast("double")).as("mean_dropped"))
  }

  /** Semantic (embedding-level) benchmark decontamination — the vector
    * sibling of [[Curation.decontaminate]]'s n-gram form: flag every
    * corpus vector whose cosine to ANY benchmark vector clears `tau`.
    * Paraphrased or lightly-edited eval contamination survives n-gram
    * checks but not this one; together the two are the standard
    * decontamination stack. Output per flagged vector: how many
    * benchmark items it matches, the closest one, and that cosine.
    *
    * Id-space contract: with `excludeSelfIds = true` (the default) a
    * corpus/benchmark pair sharing a `vec_id` is SKIPPED — correct when
    * the benchmark is carved out of the corpus itself (a row is not
    * "contaminated by" its own benchmark copy; dc3's fixture), but a
    * silent false negative if an EXTERNAL benchmark's id space happens
    * to collide with corpus ids. For an external benchmark pass
    * `excludeSelfIds = false` (or keep the namespaces disjoint): every
    * pair is then scored, including id-equal ones.
    *
    * Scale shape: dc1's broadcast rationale verbatim — eval sets are a
    * few MB against a 100 TB corpus, so the benchmark side BROADCASTS
    * and the corpus side streams through one codegen'd cosine kernel +
    * one map-side-combinable rollup keyed vec_id (no corpus shuffle of
    * anything but flagged ids). Cosines are 1e-4-grid-rounded BEFORE the
    * threshold and the argmax, so flag set and ranking replay exactly
    * cross-engine; argmax ties break to the smaller benchmark id. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            tau: Double = 0.9,
                            excludeSelfIds: Boolean = true): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1]: $tau")
    val b = benchmark.select(col("vec_id").as("bench_id"),
      col("embedding").as("be"))
    val pairCond =
      if (excludeSelfIds) col("vec_id") =!= col("bench_id") else lit(true)
    corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(b), pairCond)
      .select(col("vec_id"), col("bench_id"),
        portableRound(cosine_similarity(col("embedding"), col("be")), 4)
          .as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(struct(col("cos"), (-col("bench_id")).as("nid"))).as("m"))
      .select(col("vec_id"), col("n_bench_hits"),
        (-col("m.nid")).cast("long").as("top_bench_id"),
        col("m.cos").as("top_cos"))
  }

  /** Bucket masks for a hamming-≤`radius` probe: every `planes`-bit int
    * with popcount ≤ radius — generated from bit-position combinations
    * (C(planes, ≤radius) masks), NOT by filtering 0..2^planes: corpus-
    * adaptive sizing takes planes to ~log2(N), where the enumeration
    * would be 2^28+ candidates for a few hundred survivors. */
  private[operators] def probeMasks(planes: Int, radius: Int): Seq[Int] =
    (0 to math.min(radius, planes)).flatMap(k =>
      (0 until planes).combinations(k)
        .map(_.foldLeft(0)((m, b) => m | (1 << b))).toSeq)

  /** Plane count that keeps the expected LSH bucket population at
    * `targetBucket` = O(1): max(6, ceil(log2(n / targetBucket))) — the
    * same corpus-adaptive law as d9's sign planes, floored at
    * the historical 6 so fixture-scale behavior (and every driver gate,
    * which runs at sf0.01 where n ≤ 500) is unchanged. A FIXED plane
    * count is a silent quadratic: 2^planes buckets hold n/2^planes
    * vectors each, so within-bucket pair work grows n²/2^planes — the
    * sfx10 scaling run measured exactly that shape before this sizing
    * existed (SCALE.md §sf1). */
  def lshPlanes(n: Long, targetBucket: Int = 8): Int = {
    require(n > 0, s"corpus size: $n")
    math.max(6, math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
  }

  /** Corpus-size-aware LSH plan: pick `(planes, radius, tables)` jointly by
    * minimizing the MODELED row volume of the whole candidate stage —
    * `tables × (|masks| × n  +  randFrac × n²/2)`, probe stream plus
    * expected random-collision candidates — subject to a recall
    * constraint at each plane count.
    *
    * The constraint is the classic sign-LSH collision model at the
    * boundary pair (every pair above `minCosine` collides more often, so
    * the pair at exactly `minCosine` is the worst case): a random
    * hyperplane splits a pair at angle θ with p = θ/π, so the pair lands
    * within hamming `r` of itself in one table with
    * p_hit = Σ_{k≤r} C(planes,k) p^k (1-p)^(planes-k), the miss rate
    * compounds as (1-p_hit)^tables, and `tables` is the least count with
    * 1 − (1 − p_hit)^tables ≥ `targetRecall`. `radius = planes` is
    * excluded: that config enumerates every pair once (brute force by
    * hash join).
    *
    * Why planes must be chosen, not pinned: a fixed plane count is a
    * silent quadratic (2^planes buckets hold n/2^planes vectors, so
    * collision volume grows n²/2^planes — measured at 185× wall clock for
    * 10× corpus on the sfx10 run, SCALE.md §sf1). But unconditionally
    * taking planes to log2(n) is wrong too: in the low-threshold
    * enumeration regime the plan must take radius ≈ planes−1 to hold
    * recall, and the probe-mask fan-out Σ C(planes, ≤r) then grows
    * EXPONENTIALLY with planes (observed: a 4095-mask explode at
    * planes=12 OOM'd a broadcast). Ranking total modeled rows picks log-
    * scaled planes exactly when bucketing pays (high thresholds) and
    * falls back to the historical planes=6 when it cannot (low
    * thresholds, where the honest answer is the brute path anyway —
    * [[graft.operators.Dedup.cosinePairsBrute]]). The floor of
    * 6 keeps every fixture-scale plan (n ≤ 2000: driver gates, specs)
    * inside the historical search space. */
  def lshAutoPlan(n: Long, minCosine: Double,
                  targetRecall: Double = 0.9999,
                  maxPlanes: Int = 30,
                  maskBudget: Int = 1024): (Int, Int, Int) = {
    require(n > 0, s"corpus size: $n")
    val pDiff = math.acos(math.max(-1.0, math.min(1.0, minCosine))) / math.Pi
    def choose(m: Int, k: Int): Double =
      (0 until k).map(i => (m - i).toDouble / (i + 1)).product
    val hi = math.min(maxPlanes,
      math.max(6, math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt))
    val candidates = (6 to hi).flatMap { planes =>
      (0 until planes).flatMap { r =>
        val pHit = (0 to r).map(k =>
          choose(planes, k) * math.pow(pDiff, k) *
            math.pow(1 - pDiff, planes - k)).sum
        val masks = (0 to r).map(choose(planes, _)).sum
        // maskBudget bounds the per-row probe explode width — row-count
        // models treat 4096 cheap masks as negligible next to candidates,
        // but a 4095-wide explode is real memory pressure (and feeds
        // Spark's size estimator garbage, which is how the pre-budget
        // model OOM'd a broadcast); past ~2^10 the enumeration-regime
        // configs it enables are not better than planes=6 anyway
        if (pHit <= 0.0 || pHit >= 1.0 || masks > maskBudget) None
        else {
          val tables = math.max(1, math.ceil(
            math.log1p(-targetRecall) / math.log1p(-pHit)).toInt)
          val randFrac = masks / math.pow(2.0, planes)
          // the row terms: probe stream + expected random collisions,
          // PLUS a calibrated charge for signature computation (tables ×
          // planes dot products of dim mult-adds per vector). Without
          // any signature term the model buys recall with tables alone
          // and its radius-0 table count grows ~n^0.4 (224→566→1130
          // across sf0.1→×10→×100; signature work then grew ~23× per
          // decade and dominated the measured 24.5× second-decade wall
          // clock — SCALE.md §Round 10). The WEIGHT matters as much as
          // the term: charging planes 1:1 with candidate rows shifted
          // the ×100 optimum to radius-1 multiprobe whose 5.7e9
          // random-collision pairs spilled past the disk — a candidate
          // row costs a shuffle + hash join + dot product (~10³
          // mult-add equivalents), not one plane's 64. At 1/16 plane-
          // per-row (≈1024 mult-adds per candidate row) the optimum
          // keeps the bounded-candidate radius-0 shape with ~20% fewer
          // tables at every scale. The residual growth is not a defect:
          // an all-pairs similarity join at FIXED recall is Θ(n^{1+ρ})
          // for sign-LSH (ρ ≈ 0.3–0.4 at 0.8 cosine) — the linear-at-
          // scale routes are d9's cluster-then-pair (SemDeDup) or a
          // recall target that relaxes with n, both documented there.
          val cost = tables * (masks * n + randFrac * n.toDouble * n / 2) +
            tables.toDouble * planes * n / 16.0
          Some(((planes, r, tables), cost))
        }
      }
    }
    // degenerate thresholds (±1.0 → pDiff 0 or 1) make every config's
    // pHit hit the 0/1 guard — fail clearly instead of with an anonymous
    // empty.minBy
    require(candidates.nonEmpty, s"no LSH config for minCosine=$minCosine")
    candidates.minBy { case ((planes, _, tables), cost) => (cost, planes, tables) }._1
  }

  /** The candidate generator of [[annCandidatesAuto]] at an explicit
    * `(planes, radius, tables)` (SimilaritySpec pins one to show what a
    * fixed plane count costs). The probe scheme is ASYMMETRIC and meets
    * each pair exactly once per table: the index side emits one bare
    * signature per (vector, table); the probe side emits `sig XOR mask`
    * for every mask of popcount ≤ radius; the join keeps
    * `index.vec_id < probe.vec_id`. A pair at hamming h ≤ radius then
    * matches on exactly one mask (the XOR of its two signatures) in
    * exactly one direction — unlike the both-sides-flip scheme, which
    * meets the same pair in up to 2·radius+… buckets per table and
    * multiplies the join output by the duplication factor before
    * `distinct()` can cut it.
    *
    * Shuffle discipline (the 100 TB constraint): both join inputs carry
    * ONLY (vec_id, tbl, sig) — 3 scalars. Ids are deduped first;
    * embeddings re-join exactly once per side for scoring, with their
    * norms precomputed so the scorer does ONE dot product per pair. */
  private[operators] def annCandidatesWith(embeddings: DataFrame, planes: Int,
                                radius: Int, tables: Int,
                                dim: Int): DataFrame = {
    // one multi-table kernel + posexplode — NOT an array of per-table
    // expressions, which stops JIT-compiling in the tens of tables
    val sigs = embeddings.select(col("vec_id"),
        posexplode(hyperplane_signatures(col("embedding"), planes, dim, tables)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("sig"))
    val probes = sigs.select(col("vec_id"), col("tbl"),
      explode(array(probeMasks(planes, radius).map(lit(_)): _*)).as("mask"),
      col("sig"))
      .select(col("vec_id"), col("tbl"),
        col("sig").bitwiseXOR(col("mask")).as("probe_sig"))
    val idPairs = sigs.alias("i")
      .join(probes.alias("p"), col("i.tbl") === col("p.tbl") &&
        col("i.sig") === col("p.probe_sig") &&
        col("i.vec_id") < col("p.vec_id"))
      .select(col("i.vec_id").as("a_id"), col("p.vec_id").as("b_id"))
      .distinct()
    val normed = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
    idPairs
      .join(normed.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("norm").as("na")), "a_id")
      .join(normed.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("norm").as("nb")), "b_id")
      .select(col("a_id"), col("ea"), col("na"),
        col("b_id"), col("eb"), col("nb"))
  }

  /** Candidate pairs from multi-table LSH buckets, hamming-≤radius
    * multiprobe, with the whole `(planes, radius, tables)` config derived
    * from the threshold and the corpus count by [[lshAutoPlan]] (one
    * cheap count, then the cost-ranked plan). */
  def annCandidatesAuto(embeddings: DataFrame, minCosine: Double,
                        dim: Int = 64,
                        targetRecall: Double = 0.999): DataFrame = {
    val (planes, radius, tables) =
      lshAutoPlan(embeddings.count(), minCosine, targetRecall)
    annCandidatesWith(embeddings, planes, radius, tables, dim)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus; each query probes its `nprobe` nearest
    * centroids and scores only those lists. The centroid set is tiny
    * metadata (collected once, shipped as a literal — the same role a
    * k-means codebook plays in a production IVF index; the fixture
    * quantizer takes the first `nlist` vectors as centroids).
    *
    * Scale shape: corpus assignment is one linear scan + shuffle on
    * cluster id; a query then touches nprobe/nlist of the corpus. */
  def ivfAssign(embeddings: DataFrame, centroids: Seq[(Int, Seq[Float])],
                keep: Int): DataFrame = {
    val cents = typedlit(centroids)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    embeddings.select(col("vec_id"), col("embedding"), explode(cents).as("c"))
      .select(col("vec_id"), col("embedding"), col("c._1").as("cid"),
        portableRound(cosine_similarity(col("embedding"), col("c._2")), 6).as("csim"))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= keep)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** Deterministic seed quantizer: the nlist lowest-id vectors. */
  def centroidsOf(embeddings: DataFrame, nlist: Int): Seq[(Int, Seq[Float])] =
    embeddings.orderBy(col("vec_id")).limit(nlist)
      .select(col("embedding")).collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](0) }.toIndexedSeq

  /** Distributed Lloyd k-means for the IVF coarse quantizer — the real
    * codebook (seeded from [[centroidsOf]] for determinism). Each iteration
    * is one linear scan: assign via the codegen'd cosine kernel, then the
    * per-cluster mean per dimension (posexplode → groupBy(cid, pos)). The
    * per-dim mean sums through DECIMAL so partition/AQE order cannot
    * perturb it — assignments, and therefore the whole codebook, are
    * bit-stable across runs and cluster sizes. Only k×dim numbers ever
    * reach the driver per iteration: centroids are metadata, the corpus
    * never collects. Empty clusters keep their previous centroid. */
  def kmeansCentroids(embeddings: DataFrame, nlist: Int, iters: Int = 5): Seq[(Int, Seq[Float])] = {
    // materialize the training set ONCE (ADVICE r15): every iteration's
    // ivfAssign re-reads the corpus anyway (iters scans → one scan +
    // block replays — the ml4 persist-the-training-set discipline), and
    // the loop-sizing probe below then folds in-memory block counts
    // instead of forcing its own extra full scan of a lazy input frame
    val e = embeddings.localCheckpoint()
    var cents = centroidsOf(e, nlist)
    // per-iteration collects are actions on corpus-assignment state whose
    // aggregate is nlist × dim: size their shuffles to the corpus rows,
    // not the session's scan default
    val spark = embeddings.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(e))) {
      for (_ <- 0 until iters) {
        val means = ivfAssign(e, cents, keep = 1)
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cid"), col("pos"))
          .agg((sum(col("v").cast("decimal(27,7)")) / count(lit(1))).cast("float").as("m"))
          .groupBy(col("cid"))
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"), col("pm.m").as("mean"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
        cents = cents.map { case (i, old) => i -> means.getOrElse(i, old) }
      }
    }
    cents
  }

  /** IVF top-k. `kmeansIters = 0` (default) quantizes with the seed
    * centroids: on the RANDOM-uniform fixture embeddings k-means cannot
    * improve recall-at-scan-fraction (measured: both scan ~25% of the
    * corpus at nprobe=4, recall within noise of each other — there is no
    * cluster structure to find), so the cheaper codebook wins. On a real
    * embedding corpus (which clusters), pass `kmeansIters ≥ 3` to train
    * the codebook ([[kmeansCentroids]]) — MEASURED on a planted
    * mixture-of-Gaussians corpus (IvfCodebookSpec, SCALE.md §R15):
    * recall@10 0.77→0.96 at n=2k and 0.83→0.97 at n=8k at the SAME
    * nprobe=2/16 and a ~14% scan fraction both ways — the trained
    * codebook buys ~+0.15 recall for free at serving time. The k-means
    * objective improvement is spec-verified either way. */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 0): DataFrame = {
    val centroids =
      if (kmeansIters > 0) kmeansCentroids(embeddings, nlist, kmeansIters)
      else centroidsOf(embeddings, nlist)
    val corpus = ivfAssign(embeddings, centroids, keep = 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("cid"))
    val probes = ivfAssign(queries, centroids, keep = nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("cid"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    corpus.join(broadcast(probes),
        corpus("cid") === probes("cid") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ANN top-k: score only LSH candidates, then per-query top-k. The corpus
    * is indexed under `tables` independent hyperplane families (the classic
    * multi-table LSH index: L entries per item); each query probes, per
    * table, its own bucket plus all hamming-1 neighbors. Corpus-side work
    * stays bucket-sized per (table, probe); recall compounds across tables. */
  /** Multi-table sign-LSH candidate id pairs `(q_id, n_id)` — the shared
    * candidate generator behind [[annTopK]], [[knnGraph]]'s probe side
    * and [[pqBatchJoinTopK]]. The corpus-side index stream fans out
    * `tables` rows per vector and the candidate set another (planes+1)×
    * on the probe side — both carry ids and signatures ONLY (an
    * embedding would be ~`tables`×-amplified into the exchange and then
    * dragged through the distinct()); each query probes, per table, its
    * own bucket plus all hamming-1 neighbors. */
  private def lshCandidateIds(embeddings: DataFrame, queries: DataFrame,
                              planes: Int, dim: Int, tables: Int,
                              hintBroadcastProbes: Boolean = true): DataFrame = {
    // one multi-table signature kernel + posexplode (an array of per-table
    // expressions stops JIT-compiling in the tens of tables); unresolved
    // column expression: binds to whichever frame selects it
    val tableSigs: org.apache.spark.sql.Column =
      posexplode(hyperplane_signatures(col("embedding"), planes, dim, tables))
    val sigs = embeddings.select(col("vec_id").as("n_id"), tableSigs)
      .select(col("n_id"), col("pos").as("tbl"), col("col").as("sig"))
    val qsigs = queries.select(col("vec_id").as("q_id"), tableSigs)
      .select(col("q_id"), col("pos").as("tbl"), col("col").as("q_sig"))
    // query probes its own bucket + hamming-1 buckets, per table
    val probes = qsigs.select(col("q_id"), col("tbl"),
      explode(array((lit(-1) +: (0 until planes).map(lit(_))): _*)).as("flip"), col("q_sig"))
      .select(col("q_id"), col("tbl"),
        when(col("flip") === -1, col("q_sig"))
          .otherwise(col("q_sig").bitwiseXOR(expr("shiftleft(1, flip)")))
          .as("probe_sig"))
    // SERVING callers (annTopK — query set small by contract) hint the
    // probe side broadcast so the corpus index stream never shuffles.
    // BATCH callers (pqBatchJoinTopK — the batch grows WITH the corpus)
    // must NOT: at ×100 the probe frame is queries × tables × (planes+1)
    // ≈ 12M rows, and a hard broadcast of it built a driver-sized hash
    // table per task (measured: the r15 ×100 campaign read decade-2
    // 19.4× where ~12× is the work growth; removing the hint lets the
    // planner shuffle both sides on (tbl, sig) — fixture-scale plans
    // still broadcast via AQE, results identical).
    val probeSide =
      if (hintBroadcastProbes) broadcast(probes.alias("p")) else probes.alias("p")
    sigs.alias("s")
      .join(probeSide,
        col("s.tbl") === col("p.tbl") && col("s.sig") === col("p.probe_sig") &&
          col("p.q_id") =!= col("s.n_id"))
      .select(col("q_id"), col("n_id"))
      .distinct()
  }

  def annTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 6, dim: Int = 64, tables: Int = 8): DataFrame = {
    // Embeddings re-join once after the id-pair dedup: corpus side by one
    // hash join, query side broadcast (the query set is small by contract).
    val candIds = lshCandidateIds(embeddings, queries, planes, dim, tables)
    val cands = candIds
      .join(embeddings.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))), "q_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    cands.select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[annTopK]] with `planes` derived from the CORPUS count via
    * [[lshPlanes]]: per (table, probe) a query then touches a
    * targetBucket-sized bucket — O(1) corpus rows — instead of the
    * n/2^6 slice a fixed plane count degrades to. Wider signatures
    * lower each table's hit probability, so `tables` is compensated to
    * preserve the compounded recall of the caller's (tables, planes=6)
    * request at the ANN design similarity: per-query probe work is then
    * tables′ × (planes+1) × targetBucket rows — polylog(n), not n/64.
    * At fixture scale (n ≤ 2000 → planes floor 6) the compensation is
    * the identity, so the sim2 gate's measured recall stands. */
  /** Corpus-adaptive LSH design shared by [[annTopKAuto]] and
    * [[pqBatchJoinTopK]]: planes from the corpus count (per-bucket O(1)
    * rows), tables compensated to preserve the (tables, planes=6)
    * compounded recall at `designCosine`, capped.
    *
    * Uncapped, the compensation grows ~n^0.33 (holding the 6-plane
    * 16-table miss rate as planes track log2 n needs 55 tables at 20k
    * vectors, 98 at 200k, 174 at 2M — measured as a 1.53 two-decade
    * wall-clock exponent, SCALE.md §Round 10), because every table
    * multiplies BOTH the corpus signature stream and the probe fan-out.
    * The cap keeps total work ~linear and spends recall instead, from a
    * position of enormous surplus: the uncapped design miss at the 0.8
    * boundary is ~1e-7, while capped-64 miss is 0.2% at 2M vectors and
    * ~3% at ~270M (planes 25) — the ≥0.9 gate contract holds for ~three
    * more decades, and real pairs (planted twins ~0.95 cosine) sit far
    * inside the boundary worst case. Fixture-scale plans (≤ 55 tables
    * at sf0.1) are below the cap: driver-visible results unchanged. */
  private def autoLshDesign(n: Long, tables: Int, targetBucket: Int,
                            designCosine: Double,
                            maxTables: Int): (Int, Int) = {
    val planes = lshPlanes(n, targetBucket)
    val pd = math.acos(designCosine) / math.Pi
    def pHit(p: Int): Double =
      math.pow(1 - pd, p) + p * pd * math.pow(1 - pd, p - 1)
    val compensated = math.min(maxTables, math.max(tables, math.ceil(
      tables * math.log1p(-pHit(6)) / math.log1p(-pHit(planes))).toInt))
    (planes, compensated)
  }

  def annTopKAuto(embeddings: DataFrame, queries: DataFrame, k: Int,
                  dim: Int = 64, tables: Int = 8,
                  targetBucket: Int = 8,
                  designCosine: Double = 0.8,
                  maxTables: Int = 64): DataFrame = {
    val (planes, compensated) = autoLshDesign(embeddings.count(), tables,
      targetBucket, designCosine, maxTables)
    annTopK(embeddings, queries, k, planes, dim, compensated)
  }

  /** PQ-coded BATCH retrieval on the LINEAR route — the in-repo
    * embodiment of COST.md's routing rule that a corpus-proportional
    * query sweep must go through candidate machinery, ON the PQ index:
    * [[annTopK]]'s multi-table sign-LSH candidate generation (id-only
    * streams, per-query bucket-sized work under [[autoLshDesign]])
    * produces the candidates, ADC lookup against the PQ codes scores
    * ONLY those candidates (never an nprobe/nlist slice of the corpus
    * per query — that is [[ivfPqTopK]]'s serving shape, quadratic when
    * the batch grows with the corpus), and the exact re-rank touches the
    * top `rerank` survivors. The quadratic pq2_production exclusion and
    * this route are the measured CHOICE between two shipped paths.
    *
    * Scale shape: corpus work is one signature index (tables rows/vector,
    * ids+signatures only) + one PQ code pass; per-query work is
    * tables×(planes+1)×targetBucket candidate ids, m-byte ADC scores on
    * those, and `rerank` exact cosines. Total ~linear in corpus even for
    * a corpus-proportional batch. No broadcast hints on the query-batch
    * frames — the batch scales with the corpus by contract, so the
    * planner (AQE) picks the join strategy. */
  def pqBatchJoinTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                      m: Int = 16, codes: Int = 64, iters: Int = 2,
                      dim: Int = 64, tables: Int = 16, rerank: Int = 64,
                      targetBucket: Int = 8): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: $rerank, $k")
    val en = normalizedUnit(embeddings).localCheckpoint()
    val d0 = en.select(size(col("emb"))).head.getInt(0)
    require(d0 % m == 0, s"dim $d0 not divisible into $m subspaces")
    val sub = d0 / m
    val cb = pqTrainCodebook(en, m, codes, iters, sub)
    val codesIdx = en.select(col("vec_id").as("n_id"),
      pqAssignCol(cb, m, codes, sub).getField("code").as("codes"))
    val (planes, tablesEff) = autoLshDesign(en.count(), tables,
      targetBucket, 0.8, 64)
    val cand = lshCandidateIds(embeddings, queries, planes, dim, tablesEff,
      hintBroadcastProbes = false) // batch scales with corpus by contract
    val qluts = normalizedUnit(queries).select(col("vec_id").as("q_id"),
      graft.functions.pq_query_lut(col("emb"), pqFlat(cb, m, codes, sub),
        m, codes, sub).as("lut"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id").asc)
    val survivors = cand.join(codesIdx, Seq("n_id"))
      .join(qluts, Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.adc_lookup_score(col("lut"), col("codes"),
          codes).as("adc"))
      .withColumn("r", row_number().over(wAdc)).filter(col("r") <= rerank)
      .select(col("q_id"), col("n_id"))
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    survivors
      .join(embeddings.select(col("vec_id").as("n_id"),
        col("embedding").as("ne")), Seq("n_id"))
      .join(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe")), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wFinal)).filter(col("rank") <= k)
  }

  /** kNN GRAPH construction: every vector's k nearest neighbors by
    * cosine, built from the SAME multi-table LSH candidate generator as
    * d6 — never all-pairs. This is the primitive under embedding-space
    * clustering, label propagation, and graph-based dedup review.
    *
    * Scale shape: candidates arrive as id pairs with precomputed norms
    * (one dot per pair); symmetrization doubles rows but not exchanges
    * (union is partition-local); the per-vector election runs through
    * the bounded-heap [[graft.plans.TopKPerKey]] operator — one shuffle
    * keyed on the vector id, O(k) state per key, no sort. The `minCosine`
    * floor is the LSH planning target: neighbors below it are allowed to
    * be missed, which is what bounds candidate volume (the sim4 gate
    * measures achieved recall against brute force ABOVE that floor). */
  def knnGraph(embeddings: DataFrame, k: Int,
               minCosine: Double = 0.2): DataFrame = {
    val scored = annCandidatesAuto(embeddings, minCosine)
      .select(col("a_id"), col("b_id"),
        portableRound(dot_product(col("ea"), col("eb")) /
          (col("na") * col("nb")), 4).as("cosine"))
    val sym = scored.unionByName(scored.select(
      col("b_id").as("a_id"), col("a_id").as("b_id"), col("cosine")))
    val top = graft.plans.TopKPerKey(sym, keys = Seq("a_id"),
      order = Seq("cosine" -> false, "b_id" -> true), k = k)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    // rank assignment runs over ≤ k rows per key (already heap-bounded)
    top.withColumn("rank", row_number().over(w))
  }

  /** Sparse random projection (Achlioptas-style ±1/0 matrix, scaled by
    * √(3/outDim)) — Johnson–Lindenstrauss dimensionality reduction for
    * the embedding pipeline: project 64 → `outDim` dims BEFORE LSH/IVF
    * and every downstream distance costs outDim/64 of the original.
    *
    * The matrix is a pure function of (i, j) —
    * `((131·i + 419·j + 73·i·j) mod 1021 mod 3) − 1` — so every executor
    * (and the DuckDB oracle) regenerates it bit-identically with no
    * broadcast of learned state. The i·j cross term gives each output
    * dimension an AP with a DIFFERENT stride mod the prime before the
    * mod-3 fold; a plain affine form (the round-1..4 `(31i+17j) mod 3`)
    * collapses mod 3 to a function of j mod 3 alone, making rows j and
    * j+3 identical — effective output dimension 3, not `outDim`
    * (measured: max pairwise sign-agreement now 0.08 from 0.50).
    * Execution is
    * `outDim` codegen'd [[graft.functions.DotProduct]] kernels in ONE
    * projection — no shuffle, no UDF, scan-stage only. Components are
    * emitted emb1-style (scaled-long CSV) so the harness can sort/hash
    * them. */
  def randomProjection(embeddings: DataFrame, inDim: Int = 64,
                       outDim: Int = 16): DataFrame = {
    val scale = math.sqrt(3.0 / outDim)
    val comps = (0 until outDim).map { j =>
      val plane = array((0 until inDim).map { i =>
        lit((((131 * i + 419 * j + 73 * i * j) % 1021) % 3 - 1).toFloat)
      }: _*)
      floor(dot_product(col("embedding"), plane) * scale * 10000 + lit(0.5))
        .cast("long").cast("string")
    }
    embeddings.select(col("vec_id"), concat_ws(",", comps: _*).as("proj_vec_s"))
  }

  /** Top principal component of the embedding matrix by POWER ITERATION —
    * the one-vector core of PCA, at corpus scale: v ← normalize(Xᵀ(Xv)),
    * repeated `iters` times from the uniform unit start.
    *
    * Shape per round: the matrix never materializes a covariance — one
    * join of the long-format (vec_id, j, x) stream against the broadcast
    * 64-row v computes Xv (group by vec_id), a second join computes XᵀXv
    * (group by j), and the norm is a 1-row aggregate. Both joins are
    * data × codebook; the only data-sized exchanges key on vec_id/j.
    * `localCheckpoint` per round (pr1/d7 discipline) keeps round N from
    * replaying rounds 1..N-1.
    *
    * Determinism: every per-term product rounds at 1e-9 and sums as an
    * exact decimal, dots round at 1e-6, the normalized components at
    * 1e-9 — so five rounds of float work stay bit-identical across
    * engines and layouts (the DuckDB oracle unrolls the same rounds). */
  def topComponent(embeddings: DataFrame, dim: Int = 64, iters: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    // ONE wide scan per round, with the dim-vector state held on the
    // driver as codebook metadata (exactly the IVF-centroids contract:
    // O(dim) values, never data). The earlier long-format version
    // exploded N×dim rows and ran two data-sized joins per round — this
    // shape scans the vectors once per round and aggregates 64 exact
    // decimal sums, which is both the 100 TB plan and ~2× faster at the
    // fixture. All arithmetic mirrors the DuckDB oracle digit for digit:
    // per-term products round at 1e-9 and fold as exact decimals, dots
    // round at 1e-6, the normalized state at 1e-9.
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint()
    def round9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    var v: Array[Double] = Array.fill(dim)(round9(1.0 / math.sqrt(dim)))
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit): _*)
      // dot_i = round6( Σ_j round9(x_ij · v_j) ), decimal-exact fold
      val dot = portableRound(
        expr_aggregate_decimal(zip_with(col("emb"), vLit,
          (x, w) => portableRound(x * w, 9))), 6)
      val sAggs = (0 until dim).map { j =>
        sum(portableRound(col("_dot") * col("emb")(j), 9).cast("decimal(28,9)"))
          .cast("double").as(s"s$j")
      }
      val row = e.withColumn("_dot", dot).agg(sAggs.head, sAggs.tail: _*).head()
      require(!row.isNullAt(0),
        "topComponent: embeddings input is empty (all aggregate sums null)")
      val s = (0 until dim).map(j => row.getDouble(j))
      // norm and the state update replay the oracle's formulas exactly:
      // exact BigDecimal sum of rounded squares, nearest-double cast
      val norm = math.sqrt(
        s.map(x => java.math.BigDecimal.valueOf(round9(x * x)))
          .reduce(_.add(_)).doubleValue)
      v = s.map(x => round9(x / norm)).toArray
    }
    import spark.implicits._
    v.toSeq.zipWithIndex.map { case (c, j) => ((j + 1).toLong, c) }
      .toDF("j", "component")
  }

  /** "All-but-the-top" embedding post-processing (Mu & Viswanath 2018):
    * center the corpus, find the dominant principal direction of the
    * CENTERED vectors ([[topComponent]]'s power iteration run on them),
    * and remove each vector's projection onto it — the cheap isotropy
    * fix that improves cosine retrieval when embeddings share a big
    * common direction. Output per vector is the audit a pipeline stores:
    * the removed projection and the norm before/after (how much of the
    * vector's mass the common direction held).
    *
    * Determinism: the mean is kmeans1's decimal-grid mean; the power
    * iteration is pca1's discipline verbatim on centered values;
    * projections round at 1e-6; norm-after uses the closed form
    * ‖c − p·v‖² = ‖c‖² − p²·(2 − ‖v‖²) on identically-derived doubles,
    * so the oracle replays every digit.
    *
    * Shape: one wide scan for the 64 mean sums, topComponent's
    * scan-per-round (state = O(dim) driver metadata), then ONE streamed
    * projection pass — no corpus shuffle anywhere. */
  def ablateTopComponent(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint()
    def round9d(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    val muAggs = (0 until dim).map { j =>
      sum(portableRound(col("emb")(j), 9).cast("decimal(18,9)"))
        .cast("double").as(s"m$j")
    } :+ count(lit(1)).as("n")
    val muRow = e.agg(muAggs.head, muAggs.tail: _*).head()
    require(!muRow.isNullAt(0), "ablateTopComponent: empty embeddings input")
    val n = muRow.getLong(dim)
    val mu = (0 until dim).map(j => round9d(muRow.getDouble(j) / n))
    val muLit = array(mu.map(lit): _*)
    val centered = e.select(col("vec_id"),
      zip_with(col("emb"), muLit, (x, m) => x - m).as("embedding"))
    val v = topComponent(centered, dim).orderBy(col("j")).collect()
      .map(_.getDouble(1))
    val vLit = array(v.map(lit): _*)
    val vn2 = v.map(x => java.math.BigDecimal.valueOf(round9d(x * x)))
      .reduce(_.add(_)).doubleValue
    val cx = zip_with(col("emb"), muLit, (x, m) => x - m)
    val p = portableRound(expr_aggregate_decimal(
      zip_with(cx, vLit, (x, w) => portableRound(x * w, 9))), 6)
    val nb2 = expr_aggregate_decimal(
      zip_with(cx, cx, (x, y) => portableRound(x * y, 9)))
    e.withColumn("proj", p)
      .withColumn("nb2", nb2)
      .withColumn("na2",
        col("nb2") - col("proj") * col("proj") * lit(2.0 - vn2))
      .select(col("vec_id"), col("proj"),
        portableRound(sqrt(col("nb2")), 6).as("norm_before"),
        portableRound(sqrt(greatest(col("na2"), lit(0.0))), 6)
          .as("norm_after"))
  }

  /** Full Lloyd k-means over the embedding corpus as a FIRST-CLASS query
    * with bit-exact cross-engine parity (the sibling of [[kmeansCentroids]],
    * which trains IVF codebooks on cosine and is gated, not oracled):
    * deterministic init (the k smallest vec_ids), `iters` rounds of
    * assign-to-nearest (squared L2) + centroid mean, then the final
    * assignment (vec_id, cid, dist).
    *
    * Determinism is pca1's discipline: every per-dimension term is
    * grid-rounded at 1e-9 and folded as an EXACT decimal (order-free under
    * any partitioning/AQE re-plan), every derived double is one
    * correctly-rounded cast or IEEE division, argmin ties break on cid —
    * so the DuckDB oracle replays the identical rounds row for row.
    *
    * Shape: centroids are k×dim driver metadata (the codebook contract);
    * each round joins the exploded (vec_id, j, x) long form against the
    * BROADCAST centroid table — one data-sized shuffle per round
    * (grouping the k·dim partial products back to (vec_id, cid)) and one
    * k×dim-sized aggregation for the means. The corpus never collects. */
  /** The (vec_id, cid, dist²) frame of every vector against every
    * centroid — lloyd's inner join, shared by the assignment (min) and
    * the silhouette (min + second-min). */
  private def lloydCentDists(f: DataFrame,
                             cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = f.sparkSession
    import spark.implicits._
    val centsDf = cents.flatMap { case (cid, arr) =>
      arr.zipWithIndex.map { case (c, j) => (cid, (j + 1).toLong, c) }
    }.toDF("cid", "j", "c")
    f.join(broadcast(centsDf), "j")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum(portableRound((col("x") - col("c")) * (col("x") - col("c")), 9)
        .cast("decimal(28,9)")).cast("double").as("dist"))
  }

  private def lloydAssign(f: DataFrame,
                          cents: Seq[(Int, Seq[Double])]): DataFrame =
    lloydCentDists(f, cents)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** lloyd training: (e, f, final centroids) — shared by
    * [[lloydClusters]] and [[silhouetteSimplified]]. */
  private def lloydFit(embeddings: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame, Seq[(Int, Seq[Double])]) = {
    require(k >= 1 && iters >= 1, s"need k >= 1 and iters >= 1: $k, $iters")
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint()
    val f = e
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("j"), col("x"))
    var cents: Seq[(Int, Seq[Double])] = e.orderBy(col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](1) }.toSeq
    require(cents.length == k, s"need at least $k vectors, got ${cents.length}")
    // per-iteration collects are actions on the (vec × dim)-bounded
    // assignment state: size their shuffles to that state, not the
    // session's scan default (the k × dim result stays driver metadata)
    val spark = embeddings.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(e))) {
      for (_ <- 1 to iters) {
        val means = lloydAssign(f, cents).select(col("vec_id"), col("cid"))
          .join(e, "vec_id")
          .select(col("cid"), posexplode(col("emb")).as(Seq("p", "x")))
          .groupBy(col("cid"), col("p"))
          .agg(portableRound(
            sum(portableRound(col("x"), 9).cast("decimal(18,9)")).cast("double")
              / count(lit(1)), 9).as("m"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
          .groupBy(_._1)
          .map { case (cid, rows) => cid -> rows.sortBy(_._2).map(_._3).toSeq }
        cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      }
    }
    (e, f, cents)
  }

  def lloydClusters(embeddings: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    val (_, f, cents) = lloydFit(embeddings, k, iters)
    lloydAssign(f, cents).select(col("vec_id"), col("cid").cast("long").as("cid"),
      portableRound(col("dist"), 6).as("dist"))
  }

  /** Simplified (centroid-based) silhouette of the lloyd clustering —
    * the clustering-quality eval for [[lloydClusters]]: per vector,
    * a = distance to its OWN centroid, b = distance to the nearest
    * OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1]. The centroid
    * form is the LINEAR silhouette (n·k centroid distances, one
    * broadcast join) — the classic all-pairs form is Θ(n²) and exists
    * nowhere a corpus can grow. Distances are sqrt of the same decimal
    * grid lloyd ranks on, so the oracle replays the whole chain.
    *
    * Shape: lloyd's training + ONE reuse of the (vec_id, cid) distance
    * frame, self-joined on vec_id for the second-min — both exchanges
    * keyed vec_id (n·k rows), never the corpus². */
  def silhouetteSimplified(embeddings: DataFrame, k: Int = 4,
                           iters: Int = 3): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2 clusters, got $k")
    val (_, f, cents) = lloydFit(embeddings, k, iters)
    val d = lloydCentDists(f, cents).localCheckpoint()
    val own = d.groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("own_cid"),
        col("m.dist").as("a2"))
    val b = d.join(own, "vec_id")
      .filter(col("cid") =!= col("own_cid"))
      .groupBy(col("vec_id")).agg(min(col("dist")).as("b2"))
    own.join(b, "vec_id")
      .withColumn("a", sqrt(col("a2"))).withColumn("bb", sqrt(col("b2")))
      .select(col("vec_id"), col("own_cid").cast("long").as("cid"),
        portableRound(col("a"), 6).as("a_own"),
        portableRound(col("bb"), 6).as("b_other"),
        when(greatest(col("a"), col("bb")) > 0,
          portableRound((col("bb") - col("a")) /
            greatest(col("a"), col("bb")), 6)).otherwise(0.0)
          .as("silhouette"))
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal) —
    * the diversity-based data-SELECTION leg of the curation family: pick
    * `k` corpus vectors that 2-approximate the optimal k-center cover,
    * then assign every vector to its nearest selected center. Where
    * [[lloydClusters]] averages (density-seeking) and semantic dedup
    * REMOVES redundancy, the coreset KEEPS a maximally-spread sample —
    * the "select diverse exemplars" step of embedding-based curation
    * pipelines (coreset selection for training-data pruning).
    *
    * Determinism is [[lloydClusters]]' discipline verbatim: seed center =
    * smallest vec_id; per-dimension squared-difference terms 1e-9-grid-
    * rounded and folded as exact decimals, so every distance is
    * bit-identical cross-engine; farthest-point argmax ties break to the
    * smallest vec_id; nearest-center ties break to the smallest center id.
    * The DuckDB oracle unrolls the same k-1 selection rounds.
    *
    * Shape: selected centers are k×dim DRIVER METADATA (the codebook
    * contract — the corpus never collects; each round moves one row + one
    * dim-length array to the driver). Round r joins the exploded corpus
    * long-form against the BROADCAST center table: one data-sized shuffle
    * keyed (vec_id, cid) per round, k rounds total = O(k²·n·dim/2) work
    * with k a small constant — no per-round persisted corpus state, no
    * growing lineage, so the plan is identical on 1 or 1000 executors. */
  def kCenterCoreset(embeddings: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint()
    val first = e.orderBy(col("vec_id")).limit(1).head
    var cents: Seq[(Long, Int, Seq[Double])] =
      Seq((first.getLong(0), 1, first.getSeq[Double](1)))
    val f = e
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("j"), col("x"))
    // min distance to the current center set, ties to the smaller center
    def nearest(): DataFrame = {
      val centsDf = cents.flatMap { case (cid, rnd, arr) =>
        arr.zipWithIndex.map { case (c, j) => (cid, rnd, (j + 1).toLong, c) }
      }.toDF("cid", "rnd", "j", "c")
      f.join(broadcast(centsDf), "j")
        .groupBy(col("vec_id"), col("cid"), col("rnd"))
        .agg(sum(portableRound((col("x") - col("c")) * (col("x") - col("c")), 9)
          .cast("decimal(28,9)")).cast("double").as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cid"), col("rnd"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("center_id"),
          col("m.rnd").as("sel_round"), col("m.dist").as("dist"))
    }
    for (r <- 2 to k) {
      val far = nearest()
        .orderBy(col("dist").desc, col("vec_id").asc).limit(1).head
      val vid = far.getLong(0)
      // k > distinct corpus size: every vector is already a center and the
      // farthest point re-selects one — fail loudly, not silently
      require(!cents.exists(_._1 == vid),
        s"kCenterCoreset: k=$k exceeds the distinct corpus size " +
          s"(round $r re-selected center $vid)")
      val arr = e.filter(col("vec_id") === vid).head.getSeq[Double](1)
      cents = cents :+ ((vid, r, arr))
    }
    nearest().select(col("vec_id"), col("center_id"), col("sel_round"),
      portableRound(col("dist"), 6).as("dist"))
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split the embedding into `m` contiguous
    * subspaces and train an independent k-codeword Lloyd codebook per
    * subspace — the vector-compression workhorse behind IVF-PQ indexes
    * (64-dim float → m 1-byte codes = 16× compression here). Completes
    * the vector-infra family: emb1 quantizes per-dimension, pq1
    * quantizes per-SUBSPACE with a learned codebook.
    *
    * Determinism is [[lloydClusters]]' discipline verbatim, with the
    * subspace id joining the keys: deterministic init (the k smallest
    * vec_ids' subvectors), per-dimension terms grid-rounded at 1e-9 and
    * folded as exact decimals, argmin ties on code id — the oracle
    * replays every round with `sm` in the group keys.
    *
    * Shape: codebooks are m×k×(dim/m) driver metadata (= dim·k values
    * total, SAME size as one kmeans codebook); each round is one
    * data-sized exchange keyed (vec_id, sm, code) against the BROADCAST
    * codebook. The corpus never collects. */
  def productQuantize(embeddings: DataFrame, m: Int = 4, k: Int = 16,
                      iters: Int = 2): DataFrame = {
    require(m >= 1 && k >= 1 && iters >= 1,
      s"need m, k, iters >= 1: $m, $k, $iters")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .localCheckpoint()
    val dim = e.select(size(col("emb"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cents = pqTrainCodebook(e, m, k, iters, sub)
    e.select(col("vec_id"),
        explode(pqAssignCol(cents, m, k, sub)).as("a"))
      .select(col("vec_id"), col("a.sm").as("sm"), col("a.code").as("code"),
        portableRound(col("a.dist"), 6).as("dist"))
  }

  /** Flatten a ((sm, cid) → subvector) codebook into the dense layout
    * [[graft.functions.PqAssignCodes]] reads: slot (s·k + cid)·sub + j. */
  private def pqFlat(cents: Map[(Int, Int), Seq[Double]],
                     m: Int, k: Int, sub: Int): Array[Double] = {
    val flat = new Array[Double](m * k * sub)
    cents.foreach { case ((s, cid), arr) =>
      var j = 0
      while (j < sub) { flat((s * k + cid) * sub + j) = arr(j); j += 1 }
    }
    flat
  }

  /** The compiled per-row assignment column for a codebook (see
    * [[graft.functions.PqAssignCodes]]): `array<struct<sm,code,dist>>`
    * over the `emb` column. */
  private def pqAssignCol(cents: Map[(Int, Int), Seq[Double]],
                          m: Int, k: Int, sub: Int): Column =
    graft.functions.pq_assign_codes(col("emb"), pqFlat(cents, m, k, sub),
      m, k, sub)

  /** Lloyd training of the per-subspace PQ codebooks over a
    * `(vec_id, emb: array<double>)` frame — the driver-metadata half of
    * [[productQuantize]], shared with [[ivfPqTopK]]'s index build.
    *
    * Assignment is ONE compiled per-row kernel against the broadcast
    * codebook reference object ([[graft.functions.PqAssignCodes]] —
    * digit-exact replay of the former posexplode → broadcast-join →
    * N·m·k-row distance aggregate, which was the board's slowest bench
    * row at ~8 s; the HashedBagCounts/CharNgramStats kernelization
    * precedent). Zero exchanges per round on the assignment side; the
    * update step re-explodes each assigned subvector FROM THE SAME ROW
    * (no join back to a position-exploded frame), and the decimal fold
    * is order-free, so the codebook trajectory is bit-identical to the
    * declarative form's. */
  private[operators] def pqTrainCodebook(e: DataFrame, m: Int, k: Int,
      iters: Int, sub: Int): Map[(Int, Int), Seq[Double]] = {
    val seed = e.orderBy(col("vec_id")).limit(k).collect().zipWithIndex
    require(seed.length == k, s"need at least $k vectors, got ${seed.length}")
    // codebook: ((sm, cid) -> subvector), m·k·sub values of driver state
    var cents: Map[(Int, Int), Seq[Double]] = seed.flatMap { case (r, i) =>
      val emb = r.getSeq[Double](1)
      (0 until m).map(s => (s, i) -> emb.slice(s * sub, (s + 1) * sub))
    }.toMap
    for (_ <- 1 to iters) {
      val means = e.select(col("emb"),
          explode(pqAssignCol(cents, m, k, sub)).as("a"))
        .select(col("a.sm").as("sm"), col("a.code").as("cid"),
          posexplode(slice(col("emb"), (col("a.sm") * sub + 1).cast("int"),
            lit(sub))).as(Seq("p", "x")))
        .select(col("sm"), col("cid"), (col("p") + 1).cast("long").as("j"),
          col("x"))
        .groupBy(col("sm"), col("cid"), col("j"))
        .agg(portableRound(
          sum(portableRound(col("x"), 9).cast("decimal(18,9)")).cast("double")
            / count(lit(1)), 9).as("mean"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2),
          r.getDouble(3)))
        .groupBy(t => (t._1, t._2))
        .map { case (key, rows) => key -> rows.sortBy(_._3).map(_._4).toSeq }
      cents = cents.map { case (key, old) => key -> means.getOrElse(key, old) }
    }
    cents
  }

  /** IVF-PQ ADC search (Jégou et al. 2011; the production vector-search
    * composition — what a 100 TB index actually serves): route each
    * query through the [[ivfTopK]] coarse quantizer, score the probed
    * cells' vectors by ASYMMETRIC DISTANCE against their PQ codes (one
    * m·k-double lookup table per query, built IN-PLAN by
    * [[graft.functions.PqQueryLut]] and broadcast-joined to the
    * candidate stream — driver state is the codebook only),
    * exactly re-rank only the top-`rerank` ADC survivors, and emit the
    * cosine top-k in [[bruteForceTopK]]'s schema.
    *
    * Index layout: `(n_id, cell, m codes)` — at m=16 one byte per code,
    * a 16× compression of the 64-dim float corpus; candidates carry ids
    * and codes ONLY through the exchange (the full embedding is touched
    * again solely for the ≤`rerank` survivors per query). Corpus and
    * queries are unit-normalized before coding, and the lookup tables
    * hold per-subspace INNER PRODUCTS ⟨q_s, codeword⟩, so the ADC score
    * estimates ⟨q, x̂⟩ = cosine directly. (The textbook L2-ADC form
    * 1 + ‖x̂‖² − 2⟨q, x̂⟩ carries each candidate's reconstruction-norm
    * variance into the ranking — measured on the random-uniform fixture
    * that noise floor alone dropped recall@5 to 0.88-0.90 at sf0.1 even
    * with a 12%-deep refine; the inner-product table removes the ‖x̂‖²
    * term at identical cost and recall measured 0.96 at sf0.1 with a
    * 5% refine depth — candidate generation itself is lossless there,
    * full-refine recall is 1.0.)
    *
    * Scale shape: index build = one coarse-assign scan + `iters` PQ
    * Lloyd scans (compiled kernel, codebook is dim·codes driver
    * metadata); per query the ADC scan touches nprobe/nlist of the
    * corpus at m array-reads per vector, and the exact stage touches
    * `rerank` vectors. Approximate by design — the recall contract
    * lives in the pq2 gate (≥0.9 vs the exact scan, the sim3/hn2
    * pattern). */
  // zero-norm guard: an all-zero embedding would otherwise normalize to
  // NaN components and silently poison codebook training + ADC scores —
  // fail loudly instead (the BandedLevenshtein / forecastAccuracy rule)
  private def normalizedUnit(df: DataFrame): DataFrame = df
    .select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
    .select(col("vec_id"), col("raw"), sqrt(aggregate(col("raw"), lit(0.0),
      (acc, y) => acc + y * y)).as("nrm"))
    .select(col("vec_id"), transform(col("raw"),
      x => x / when(col("nrm") > 0, col("nrm")).otherwise(raise_error(
        concat(lit("ivfPqTopK: zero-norm embedding vec_id="),
          col("vec_id").cast("string"))))).as("emb"))

  /** The IVF-PQ index rows for one vector frame under GIVEN quantizers:
    * `(n_id, cid, m codes)`, embeddings dropped — assignment is a pure
    * per-row function of (vector, centroids, codebook), so a frame's
    * index rows are identical whether it is coded at build time or
    * ADMITTED later as a delta batch ([[ivfPqDeltaMerge]]). `en` is the
    * frame's unit-normalized twin (shared so callers reuse a checkpoint
    * that already exists). */
  private def ivfPqAssignOn(raw: DataFrame, en: DataFrame, centroids: Seq[(Int, Seq[Float])],
                            cb: Map[(Int, Int), Seq[Double]],
                            m: Int, codes: Int, sub: Int): DataFrame = {
    val cells = ivfAssign(raw, centroids, keep = 1)
      .select(col("vec_id"), col("cid"))
    en.select(col("vec_id"),
        pqAssignCol(cb, m, codes, sub).getField("code").as("codes"))
      .join(cells, Seq("vec_id"))
      .select(col("vec_id").as("n_id"), col("cid"), col("codes"))
  }

  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 16,
                codes: Int = 64, iters: Int = 2, rerank: Int = 64,
                rerankFrac: Double = 0.05): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: $rerank, $k")
    val centroids = centroidsOf(embeddings, nlist)
    val en = normalizedUnit(embeddings).localCheckpoint() // feeds train + code
    val dim = en.select(size(col("emb"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // Corpus-adaptive refine depth: on a corpus with real neighbor
    // structure (planted twins, clustered text embeddings) the true
    // neighbors' ADC scores separate from the bulk and a CONSTANT
    // rerank suffices; on a RANDOM-uniform corpus the margin between
    // rank-5 and the bulk shrinks with n, so the expected ADC rank of a
    // true neighbor grows ~linearly in the candidate count — the refine
    // stage therefore re-ranks at least `rerankFrac` of the expected
    // per-query candidate stream (n·nprobe/nlist). Exact work stays a
    // small constant FRACTION of the ADC scan (the annTopKAuto
    // compensation precedent: spend a bounded slice of the budget to
    // keep the recall contract on the adversarial no-structure corpus).
    val rerankEff = math.max(rerank.toLong, math.ceil(
      en.count().toDouble * nprobe / nlist * rerankFrac).toLong)
    val cb = pqTrainCodebook(en, m, codes, iters, sub)
    // the index: coarse cell + m codes per vector, embeddings dropped
    val index = ivfPqAssignOn(embeddings, en, centroids, cb, m, codes, sub)
    ivfPqServe(index, embeddings, queries, centroids, cb, m, codes, sub,
      k, nprobe, rerankEff)
  }

  /** IVF-PQ incremental index maintenance (the ivm1 "view ∪ delta ≡
    * recompute" discipline applied to the vector index — what a
    * production 100 TB index does nightly): quantizers (coarse centroids
    * + PQ codebooks) are trained on the BASE corpus only; a new batch is
    * ADMITTED by assigning it through those EXISTING quantizers — one
    * delta-sized normalize + assign scan, NO retrain, no touch of the
    * base postings — and the merged index is base postings ∪ delta
    * postings. Because assignment is a pure per-row function of
    * (vector, quantizers), the merged index is IDENTICAL row-for-row to
    * coding base ∪ delta in one pass under the same quantizers; what a
    * rebuild changes is only the quantizers themselves, and the recall
    * cost of serving delta-era queries through base-trained quantizers
    * is exactly what the ivf1 gate pins against the full-retrain path.
    *
    * Maintenance cost: O(|delta|) executor work + the (m·k·sub)-double
    * codebook broadcast. The rebuild this replaces re-trains centroids
    * (iters corpus scans) and re-codes every vector — corpus-sized.
    *
    * Contract: base and delta vec_ids must be DISJOINT — an id present
    * on both sides would double-post in the merged index and surface as
    * duplicate n_id rows in the rerank window. Enforced loudly by one
    * delta-vs-base id semi-join (8-byte keys; the delta side is the
    * small one, so the check is one base-id scan). */
  def ivfPqDeltaMerge(base: DataFrame, delta: DataFrame, queries: DataFrame,
                      k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 16,
                      codes: Int = 64, iters: Int = 2, rerank: Int = 64,
                      rerankFrac: Double = 0.05): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: $rerank, $k")
    val centroids = centroidsOf(base, nlist)
    val bn = normalizedUnit(base).localCheckpoint()
    val dim = bn.select(size(col("emb"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cb = pqTrainCodebook(bn, m, codes, iters, sub)
    val dn = normalizedUnit(delta).localCheckpoint() // the delta-sized scan
    val nOverlap = dn.select(col("vec_id"))
      .join(bn.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
    require(nOverlap == 0,
      s"ivfPqDeltaMerge: $nOverlap delta vec_id(s) already present in base" +
        " — admission requires disjoint ids (an overlap would double-post)")
    val index = ivfPqAssignOn(base, bn, centroids, cb, m, codes, sub)
      .unionByName(ivfPqAssignOn(delta, dn, centroids, cb, m, codes, sub))
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(delta.select(col("vec_id"), col("embedding")))
    val rerankEff = math.max(rerank.toLong, math.ceil(
      (bn.count() + dn.count()).toDouble * nprobe / nlist * rerankFrac).toLong)
    ivfPqServe(index, corpus, queries, centroids, cb, m, codes, sub,
      k, nprobe, rerankEff)
  }

  /** IVF-PQ tombstone DELETION — the other half of nightly index
    * maintenance ([[ivfPqDeltaMerge]] admits, this retires): quantizers
    * and postings are built on the full corpus, then the tombstoned ids
    * are dropped from the postings by one id-keyed anti-join — no
    * retrain, no re-code of the survivors — and queries are served from
    * the pruned index with the exact re-rank restricted to the remaining
    * corpus. Because postings are per-row pure functions of the
    * quantizers, the pruned index is IDENTICAL to coding only the
    * survivors under the same quantizers; what a delete-triggered
    * rebuild changes is the quantizers alone, and that recall delta is
    * what the ivf2 gate pins (plus the hard contract: a tombstoned id
    * must never surface in a result).
    *
    * Maintenance cost: one postings-sized anti-join on 8-byte ids —
    * no embedding is touched. */
  def ivfPqDeleteServe(corpus: DataFrame, tombstones: DataFrame,
                       queries: DataFrame, k: Int, nlist: Int = 16,
                       nprobe: Int = 4, m: Int = 16, codes: Int = 64,
                       iters: Int = 2, rerank: Int = 64,
                       rerankFrac: Double = 0.05): DataFrame = {
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1: $rerank, $k")
    val centroids = centroidsOf(corpus, nlist)
    val cn = normalizedUnit(corpus).localCheckpoint()
    val dim = cn.select(size(col("emb"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cb = pqTrainCodebook(cn, m, codes, iters, sub)
    val dead = tombstones.select(col("vec_id").as("n_id"))
    val index = ivfPqAssignOn(corpus, cn, centroids, cb, m, codes, sub)
      .join(dead, Seq("n_id"), "left_anti")
    val remaining = corpus.select(col("vec_id"), col("embedding"))
      .join(tombstones.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val rerankEff = math.max(rerank.toLong, math.ceil(
      remaining.count().toDouble * nprobe / nlist * rerankFrac).toLong)
    ivfPqServe(index, remaining, queries, centroids, cb, m, codes, sub,
      k, nprobe, rerankEff)
  }

  /** The IVF-PQ query path over a prebuilt `(n_id, cid, codes)` index:
    * coarse probes → in-plan ADC tables → compiled ADC scan → exact
    * re-rank of the top `rerankEff` survivors against `corpus`. */
  private def ivfPqServe(index: DataFrame, corpus: DataFrame,
                         queries: DataFrame, centroids: Seq[(Int, Seq[Float])],
                         cb: Map[(Int, Int), Seq[Double]],
                         m: Int, codes: Int, sub: Int,
                         k: Int, nprobe: Int, rerankEff: Long): DataFrame = {
    // query side: distributed coarse probes + IN-PLAN ADC tables. The
    // m·k table per query is built by a compiled kernel over the query
    // frame from the broadcast flat codebook (PqQueryLut) and reaches
    // the candidate stream through a broadcast join on q_id — rounds
    // ≤12 collect()ed the query set and shipped driver-built tables as
    // expression literals, which made driver heap grow with the query
    // batch; now a corpus-proportional batch costs executor time only
    // (the broadcast hints below stay correct while the batch is small;
    // a corpus-sized batch would swap them for shuffle joins, the
    // candidate stream itself is unchanged either way).
    val probes = ivfAssign(queries, centroids, keep = nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    val qluts = normalizedUnit(queries).select(col("vec_id").as("q_id"),
      graft.functions.pq_query_lut(col("emb"), pqFlat(cb, m, codes, sub),
        m, codes, sub).as("lut"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id").asc)
    val survivors = index.join(broadcast(probes), Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .join(broadcast(qluts), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.adc_lookup_score(col("lut"), col("codes"),
          codes).as("adc"))
      .withColumn("r", row_number().over(wAdc)).filter(col("r") <= rerankEff)
      .select(col("q_id"), col("n_id"))
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    survivors
      .join(corpus.select(col("vec_id").as("n_id"),
        col("embedding").as("ne")), Seq("n_id"))
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        portableRound(cosine_similarity(col("qe"), col("ne")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wFinal)).filter(col("rank") <= k)
  }

  /** Exact decimal fold of a double array: Σ cast(decimal(28,9)) of the
    * elements, returned as double — the aggregation-order-free sum the
    * oracle's decimal SUM performs. */
  private def expr_aggregate_decimal(arr: Column): Column =
    // the merge lambda must return the accumulator's exact type; decimal
    // addition widens (28,9)+(28,9) → (29,9), so cast back (exact at
    // these magnitudes — dot sums stay far below 10¹⁹)
    aggregate(arr, lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)"),
      (acc, x) => (acc + x.cast("decimal(28,9)")).cast("decimal(28,9)"))
      .cast("double")

}
