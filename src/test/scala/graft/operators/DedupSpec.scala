package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  test("removeDupSpans: a boilerplate prefix shared by 3 docs is excised, " +
    "unique text survives, a non-carrier is untouched") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler t1a t1b t1c t1d t1e t1f t1g t1h"),
      (2L, s"$boiler t2a t2b t2c t2d t2e t2f t2g t2h"),
      (3L, s"$boiler t3a t3b t3c t3d t3e t3f t3g t3h"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(docs, k = 8, minDocs = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    // carriers: exactly the 8 boilerplate tokens cut (spans starting
    // past position 1 mix in unique tokens, so only span 1 is repeated)
    Seq(1L, 2L, 3L).foreach { id =>
      val r = got(id)
      assert(r.getLong(1) == 16L && r.getLong(2) == 1L && r.getLong(3) == 8L,
        s"doc $id: ${r.mkString(",")}")
      assert(!r.getString(6).contains("b1") && r.getString(6).startsWith(s"t${id}a"))
      assert(r.getLong(4) == (boiler.length + 1).toLong, s"chars doc $id")
      assert(r.getDouble(5) == 0.5)
    }
    // the non-carrier keeps every token
    assert(got(4L).getLong(3) == 0L && got(4L).getString(6).startsWith("u1 "))
  }

  test("removeDupSpans keepFirst: the minimum-doc_id carrier KEEPS the " +
    "repeated span; every other carrier is cut (Lee et al. keep-one)") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (5L, s"$boiler t5a t5b t5c t5d t5e t5f t5g t5h"),
      (2L, s"$boiler t2a t2b t2c t2d t2e t2f t2g t2h"),
      (9L, s"$boiler t9a t9b t9c t9d t9e t9f t9g t9h")).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(docs, k = 8, minDocs = 2, keepFirst = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    // keeper = doc 2 (min id): untouched
    assert(got(2L).getLong(3) == 0L && got(2L).getString(6).startsWith("b1 "))
    // the other carriers lose exactly the boilerplate
    Seq(5L, 9L).foreach { id =>
      assert(got(id).getLong(3) == 8L
        && got(id).getString(6) == s"t${id}a t${id}b t${id}c t${id}d " +
          s"t${id}e t${id}f t${id}g t${id}h", got(id).mkString(","))
    }
  }

  test("removeDupSpans: three identical 8-token docs clean to the EMPTY " +
    "string (full excision), ratio exactly 1") {
    import spark.implicits._
    val t = (1 to 8).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, t), (2L, t), (3L, t)).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(docs, k = 8, minDocs = 3).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getLong(3) == 8L && r.getString(6) == ""
        && r.getDouble(5) == 1.0 && r.getLong(4) == t.length.toLong,
        r.mkString(","))
    }
  }

  test("spanContainment: a planted subset doc is detected directionally") {
    import spark.implicits._
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val sub = (9 to 24).map(i => s"w$i").mkString(" ")       // inside big
    val other = (100 to 140).map(i => s"u$i").mkString(" ")  // disjoint
    val docs = Seq((1L, big), (2L, sub), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.spanContainment(docs, k = 8, maxDf = 5, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7)))).toMap
    // only the (big, sub) pair shares spans; sub's spans are ALL in big
    assert(got.keySet == Set((1L, 2L)))
    val (nShared, ca, cb, contained) = got((1L, 2L))
    assert(nShared == 9)         // 16-token sub has 9 distinct 8-spans
    assert(cb == 1.0)            // every sub span is in big
    assert(ca < 0.8)             // big is NOT contained in sub
    assert(contained)
    // a ubiquitous span (df > maxDf) never generates pairs
    val common = (1 to 8).map(i => s"c$i").mkString(" ")
    val many = (1L to 7L).map(i => (10L + i, common)).toDF("doc_id", "text")
    assert(Dedup.spanContainment(many, k = 8, maxDf = 5, threshold = 0.8)
      .isEmpty)
  }
  import spark.implicits._

  private def docsDF(texts: (Long, String)*) =
    texts.toSeq.toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per text and counts copies") {
    val d = docsDF(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val got = Dedup.exact(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("removeDupSpans: dense overlapping hits (boilerplate-heavy doc — " +
    "hits at nearly every position) excise correctly via the gap walk") {
    // three identical 200-token docs: EVERY span is repeated (minDocs=3
    // met), so every position is covered and the docs clean to '' —
    // the hits≈tokens shape the interval walk exists for
    val body = (1 to 200).map(i => s"w$i").mkString(" ")
    val dense = docsDF(1L -> body, 2L -> body, 3L -> body,
      // doc 4 shares ONLY tokens 50..80 of the body (one interior run):
      // the gap walk must emit prefix [1..11] and suffix gap correctly
      4L -> (s"a b c d e f g h i j k " +
        (50 to 80).map(i => s"w$i").mkString(" ") + " x y z q r s t u v"))
    val got = Dedup.removeDupSpans(dense, k = 8, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    (1L to 3L).foreach { id =>
      val r = got(id)
      assert(r.getLong(3) == 200L && r.getString(6) == "", r.mkString(","))
    }
    // doc 4: only 3 docs carry the w50..w80 spans' digests? no — doc 4's
    // interior spans ARE the body's spans w50..w57 ... w73..w80 (pure
    // w-runs of length 8), each present in docs 1,2,3,4 → df=4 ≥ 3, so
    // tokens w50..w80 are cut; the a..k prefix and x..v suffix survive
    val r4 = got(4L)
    val cleaned = r4.getString(6)
    assert(cleaned == "a b c d e f g h i j k x y z q r s t u v", cleaned)
    assert(r4.getLong(3) == 31L, r4.mkString(","))
  }

  test("removeDupSpans: overlapping hit spans MERGE in the walk — " +
    "coverage equals the union, cursor never steps backwards") {
    // docs 1-3 share two OVERLAPPING 8-token spans (positions 1 and 4 in
    // doc 1): union covers tokens 1..11, tokens 12.. survive
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11"
    val d = docsDF(
      1L -> (shared + " tail1 tail2 tail3"),
      2L -> (shared + " other tokens here entirely different ones"),
      3L -> (shared + " third doc padding words distinct again"))
    val got = Dedup.removeDupSpans(d, k = 8, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getString(6) == "tail1 tail2 tail3",
      got(1L).mkString(","))
    assert(got(1L).getLong(3) == 11L)
  }

  test("exactByDigest: carries travel as ONE representative row (min " +
    "doc_id), not per-column minima mixed across source rows") {
    import org.apache.spark.sql.functions.col
    // two distinct originals that "cleaned" to the same text, with
    // removal accounting from the ORIGINAL rows: doc 5 removed 7 tokens,
    // doc 2 removed 3; per-column min() would emit the impossible
    // (doc_id=2, n_removed=3, chars_removed=40) mix
    val d = Seq((5L, "same cleaned text", 7L, 40L),
                (2L, "same cleaned text", 3L, 55L))
      .toDF("doc_id", "text", "n_removed", "chars_removed")
    val got = Dedup.exactByDigest(d, col("text"),
        carry = Seq("n_removed", "chars_removed"))
      .select("doc_id", "n_removed", "chars_removed").collect()
    assert(got.length == 1)
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getLong(2))
      == ((2L, 3L, 55L)), got(0).mkString(","))
  }

  test("exact dedup metrics: rows_in/rows_out/dedup_removed") {
    val d = docsDF(1L -> "a", 2L -> "a", 3L -> "b")
    val m = Dedup.exactMetrics(d, $"text").collect()(0)
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == ((3L, 2L, 1L)))
  }

  test("shingles: contiguous n-grams, distinct, size-guarded") {
    val d = docsDF(1L -> "a b c d", 2L -> "a b") // doc 2 shorter than n=3
    val got = Dedup.shingles(d, 3).collect()
    assert(got.length == 1)
    assert(got(0).getSeq[String](1).toSet == Set("a b c", "b c d"))
  }

  test("minhash estimate tracks exact Jaccard for overlapping docs") {
    // two docs sharing ~90% of shingles, one unrelated
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 38).map(i => s"tok$i").mkString(" ") + " alt1 alt2"
    val far = (100 to 140).map(i => s"tok$i").mkString(" ")
    val d = docsDF(1L -> base, 2L -> near, 3L -> far)
    val pairs = Dedup.minhashPairs(d, minEstJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1)
    val (a, b, est) = pairs(0)
    assert((a, b) == ((1L, 2L)))
    val exact = Dedup.ngramJaccardPairs(d, 3).collect()
      .find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2)
    assert(math.abs(est - exact) < 0.25, s"est=$est exact=$exact")
  }

  test("simhash: identical docs collide; near docs within small hamming") {
    val d = docsDF(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy cat",
      4L -> "completely different words entirely here now")
    val sig = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("ngram Jaccard: known overlap computes the exact coefficient") {
    // shingle sets: {a b c, b c d} vs {b c d, c d e} → inter 1, union 3
    val d = docsDF(1L -> "a b c d", 2L -> "b c d e")
    val got = Dedup.ngramJaccardPairs(d, 3).collect()
    assert(got.length == 1)
    assert(math.abs(got(0).getDouble(2) - 1.0 / 3) < 1e-3)
  }

  test("sourceOverlap: containment is per-side, disjoint sources emit no row") {
    // s1 shingles {a..e, b..f} (2), s2 {a..e} (1), s3 disjoint
    val d = Seq(
      (1L, "a b c d e f", "s1"),
      (2L, "a b c d e", "s2"),
      (3L, "x y z w v u", "s3")).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d).collect()
    assert(got.length == 1, "only the overlapping pair appears")
    val r = got(0)
    assert((r.getString(0), r.getString(1), r.getLong(2)) == ("s1", "s2", 1L))
    assert(r.getDouble(3) == 0.5) // jaccard 1/(2+1-1)
    assert(r.getDouble(4) == 0.5) // half of s1 is shared
    assert(r.getDouble(5) == 1.0) // ALL of s2 is contained in s1
  }

  test("duplicateClusters labels connected components with their min id") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2-3, {7,9}, and 5 paired with 6
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (5L, 6L))
      .toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      5L -> 5L, 6L -> 5L))
  }

  test("duplicateClusters converges on a long chain (diameter > 2)") {
    import spark.implicits._
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 12 && got.values.forall(_ == 0L))
  }

  test("large/small-star closes a path graph in O(log n) rounds, not diameter") {
    import spark.implicits._
    val n = 32
    val path = (0L until n.toLong).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a_id", "b_id")
    // one-hop min-label propagation needs diameter = n−1 = 31 rounds; the
    // star rounds must come in well under half that (theory: O(log₂ n) ≈ 5)
    val (labels, rounds) = Dedup.duplicateClustersWithRounds(path, maxIters = 16)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L))
    assert(rounds <= 10, s"expected O(log n) star rounds, got $rounds")
  }

  test("an already-converged graph never throws, whatever the maxIters cap") {
    import spark.implicits._
    // one edge = already a star after the initial small-star pass; the
    // convergence check must still run when maxIters == 1 (the cap bounds
    // REFINING rounds, not the right to verify a fixpoint)
    val (labels, rounds) = Dedup.duplicateClustersWithRounds(
      Seq((1L, 2L)).toDF("a_id", "b_id"), maxIters = 1)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L))
    assert(rounds == 1)
  }

  test("self-loop-only docs stay in the labeling as their own reps") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (5L, 5L)).toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("star rounds collapse a star graph immediately and label shuffled components") {
    import spark.implicits._
    // a 50-leaf star plus a disjoint triangle entered in descending order
    val star = (1L to 50L).map(i => (0L, i))
    val tri = Seq((102L, 101L), (101L, 100L), (102L, 100L))
    val (labels, rounds) =
      Dedup.duplicateClustersWithRounds((star ++ tri).toDF("a_id", "b_id"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 50L).forall(got(_) == 0L) && got(0L) == 0L)
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(rounds <= 4, s"star graph should collapse in O(1) rounds, got $rounds")
  }

  test("LSH pair source reproduces the brute-force d5 result exactly at 0.35") {
    // the scale path's recall contract at the d5 threshold: the
    // lshAutoPlan config covers every qualifying pair on the fixture, and
    // rescoring is exact — so the two paths are row-identical, not
    // merely close
    val e = graft.Tables.embeddings(spark, sf0001)
    assertSameRows(Dedup.cosinePairsLshAuto(e, 0.35), Dedup.cosinePairsBrute(e, 0.35))
  }

  test("cosine near-dup pairs on crafted vectors") {
    val mk = (id: Long, v: Array[Float]) => (id, v)
    val e = Seq(
      mk(1L, Array(1f, 0f, 0f)), mk(2L, Array(0.99f, 0.1f, 0f)), mk(3L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.cosinePairsBrute(e, 0.9).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("d9 buckets are O(1)-sized on the fixture and candidates are exactly-once") {
    val e = graft.Tables.embeddings(spark, sf0001) // 500 vectors
    val planes = 7 // d9's config: ceil(log2(500 / 4)), target bucket 4
    val sizes = e.select(Dedup.signSignature(planes, 64).as("sig"))
      .groupBy("sig").count().select(col("count")).as[Long].collect()
    // max per-bucket population — and therefore per-bucket pair work —
    // stays within a small constant of the target (measured max 5; the
    // round-4 affine plane formula collapsed to 6 buckets of up to 94)
    assert(sizes.max <= 16, s"max bucket ${sizes.max}")
    val withinPairs = sizes.map(s => s * (s - 1) / 2).sum
    assert(withinPairs <= 2L * 4 * 500, s"within-bucket pair volume $withinPairs")
    // the asymmetric mask join meets each qualifying pair exactly once:
    // no duplicates even before any distinct()
    val cand = Dedup.semanticCandidates(e, planes, radius = 2)
    assert(cand.count() == cand.distinct().count())
  }

  test("semanticDedup keeps one representative per cluster, singletons survive") {
    val e = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.01f, 0f, 0f)), // near-dup of 1, same sign bucket
      (3L, Array(0f, 0f, 1f, 0f)))       // orthogonal singleton
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(e, 0.35, signPlanes = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
    // the kept set is exactly one per rep
    assert(got.filter(_._3).map(_._2) == got.map(_._2))
  }

  test("dupSpans counts cross-document spans only; short docs drop out") {
    val d = docsDF(
      1L -> "a b c d",   // spans: "a b","b c","c d" — shares "a b" with doc 2
      2L -> "x y a b",   // spans: "x y","y a","a b"
      3L -> "p q r s",   // no shared spans
      4L -> "solo")      // 1 token < k=2 → excluded
    val got = Dedup.dupSpans(d, k = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_shared"),
          r.getAs[Double]("shared_ratio"), r.getAs[Boolean]("flagged")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((3L, 1L, 0.3333, true)))
    assert(got(2L) == ((3L, 1L, 0.3333, true)))
    assert(got(3L) == ((3L, 0L, 0.0, false)))
  }

  test("dupSpans ignores within-document repetition (that's t9's signal)") {
    val d = docsDF(
      1L -> "a b a b a b", // distinct spans {"a b","b a"} — no other doc has them
      2L -> "c d e f")
    val got = Dedup.dupSpans(d, k = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L))
  }

  test("nearDupAdmission: corpus near-dups block, smaller-id batch dups " +
    "block conservatively, unique and short docs admit, blocker is " +
    "max-J-then-min-id") {
    // 8-token template: swapping ONE token keeps J(4/... ) high
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    val tweak = "alpha bravo charlie delta echo foxtrot golf india"
    val corpus = Seq(
      (1L, base),                     // near-dup source for batch 107
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val incoming = Seq(
      (107L, tweak),                  // J vs doc 1 = 3/5 = 0.6 >= 0.5 -> blocked by 1
      (117L, "nine ten eleven twelve thirteen fourteen"), // unique -> admitted
      (127L, "nine ten eleven twelve thirteen fourteen"), // = 117 -> blocked by 117 (J=1)
      (137L, "too short"),            // < 5 tokens: no shingles -> admitted
      (147L, base)                    // exact dup of corpus 1 -> blocked, J=1
    ).toDF("doc_id", "text")
    val r = Dedup.nearDupAdmission(incoming, corpus).collect()
      .map(x => (x.getLong(0), x.getBoolean(1),
        if (x.isNullAt(2)) -1L else x.getLong(2),
        if (x.isNullAt(3)) -1.0 else x.getDouble(3)))
    // 8 tokens -> 4 shingles; one last-token swap shares 3: J = 3/5 = 0.6
    assert(r.toSeq == Seq(
      (107L, false, 1L, 0.6),
      (117L, true, -1L, -1.0),
      (127L, false, 117L, 1.0),
      (137L, true, -1L, -1.0),
      (147L, false, 1L, 1.0)), r.mkString(", "))
    // threshold above the near-dup J admits it but keeps the exact dups blocked
    val hi = Dedup.nearDupAdmission(incoming, corpus, minJaccard = 0.9)
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    assert(hi.toSeq == Seq((107L, true), (117L, true), (127L, false),
      (137L, true), (147L, false)), hi.mkString(", "))
  }

  test("softDedup: 1/n_copies reweighting, exact effective tokens, crafted") {
    import spark.implicits._
    // "w w" duplicated (weight 1/2 each) + unique "z": eff = 1+1+1 = 3
    // of 5 raw tokens -> dup_token_frac 0.4 exactly
    val docs = Seq((1L, "w w", "A"), (2L, "w w", "A"), (3L, "z", "A"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.softDedup(docs, col("text"),
      size(split(col("text"), " ")), col("source")).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_docs") == 3)
    assert(r.head.getAs[Long]("n_tokens") == 5)
    assert(r.head.getAs[Double]("eff_tokens") == 3.0)
    assert(r.head.getAs[Long]("n_dup_docs") == 2)
    assert(math.abs(r.head.getAs[Double]("dup_token_frac") - 0.4) < 1e-9)
  }

  test("clusterPurity: a sliding chain is flagged as a chain merge") {
    import spark.implicits._
    // 10 docs, each a 10-token window of w1..w19 shifted by 1: adjacent
    // jaccard 7/9 = 0.7778 (edges), gap-2 exactly 0.6 (no edge at >0.6),
    // ends share no 3-shingle at all -> one 10-doc chain cluster with
    // 9 edges, 42 of 45 pairs scored, min_pair_jac 0 (the unscored pair
    // proves a zero-jaccard member pair without materializing it)
    val docs = (0 until 10).map { i =>
      (i.toLong + 1, (1 to 10).map(j => s"w${i + j}").mkString(" "))
    }.toDF("doc_id", "text")
    val r = Dedup.clusterPurity(docs).collect()
    assert(r.length == 1)
    val c = r.head
    assert(c.getAs[Long]("cluster_rep") == 1L)
    assert(c.getAs[Long]("n_docs") == 10L)
    assert(c.getAs[Long]("n_possible") == 45L)
    assert(c.getAs[Long]("n_scored") == 42L)
    assert(c.getAs[Long]("n_edges") == 9L)
    assert(c.getAs[Double]("edge_density") == 0.2)
    assert(c.getAs[Double]("min_pair_jac") == 0.0)
    assert(c.getAs[Double]("min_edge_jac") == 0.7778)
    assert(c.getAs[Double]("mean_edge_jac") == 0.7778)
    assert(c.getAs[Boolean]("chained"))
  }

  test("clq1 on the fixture: planted near-dup clusters are pure cliques") {
    val rows = graft.Queries.all("clq1_cluster_purity")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n >= 2)
      assert(r.getAs[Long]("n_edges") >= n - 1, s"connected: $r")
      assert(r.getAs[Double]("min_edge_jac") > 0.6)
      assert(r.getAs[Double]("min_pair_jac") <= r.getAs[Double]("min_edge_jac"))
      assert(r.getAs[Double]("edge_density") <= 1.0)
    }
    // the fixture's plants are tight copies — no chain merges expected
    assert(rows.forall(!_.getAs[Boolean]("chained")),
      "fixture clusters must be cliques")
  }

  test("sd1 on the fixture: effective mass never exceeds raw, dups exist") {
    val rows = graft.Queries.all("sd1_soft_dedup")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("eff_tokens") <= r.getAs[Long]("n_tokens").toDouble)
      assert(r.getAs[Double]("dup_token_frac") >= 0.0)
    }
    // the fixture plants exact duplicates — soft dedup must see them
    assert(rows.map(_.getAs[Long]("n_dup_docs")).sum > 0)
  }
}
