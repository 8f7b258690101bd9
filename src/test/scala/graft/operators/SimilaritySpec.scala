package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("bruteForceTopK ranks crafted vectors correctly") {
    val e = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(e, e.filter($"vec_id" === 0), 3)
      .orderBy($"rank").collect().map(_.getAs[Long]("n_id")).toSeq
    assert(got == Seq(1L, 2L, 3L)) // descending cosine from query (1,0)
  }

  test("probeMasks: combination form equals the popcount filter, at any planes") {
    for (planes <- Seq(4, 6, 10); radius <- 0 to 3) {
      val got = Similarity.probeMasks(planes, radius).sorted
      val ref = (0 until (1 << planes)).filter(m => Integer.bitCount(m) <= radius)
      assert(got == ref, s"planes=$planes radius=$radius")
    }
    // the point of the combination form: planes ~ log2(corpus) stays
    // enumerable (28 planes, radius 2 -> 407 masks, not 2^28 candidates)
    assert(Similarity.probeMasks(28, 2).size == 1 + 28 + 28 * 27 / 2)
  }

  test("corpus-adaptive planes keep LSH candidate volume subquadratic") {
    // fixed planes = fixed bucket count: on 4x the corpus each bucket
    // holds 4x the vectors and pair work grows ~16x. lshAutoPlan grows
    // the bucket count with the corpus instead, holding expected
    // population at O(1). Measured on candidate COUNTS (noise-free), not
    // wall clock; vectors are seeded-deterministic.
    val rnd = new scala.util.Random(7)
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val small = corpus(1000).cache()
    val big = corpus(4000).cache()
    // the pinned form: lshAutoPlan's config with planes held at 6
    def pinned(df: org.apache.spark.sql.DataFrame, n: Long): Long = {
      val (planes, radius, tables) =
        Similarity.lshAutoPlan(n, 0.8, targetRecall = 0.999, maxPlanes = 6)
      Similarity.annCandidatesWith(df, planes, radius, tables, 64).count()
    }
    def auto(df: org.apache.spark.sql.DataFrame): Long =
      Similarity.annCandidatesAuto(df, 0.8).count()
    val pinnedRatio = pinned(big, 4000).toDouble / pinned(small, 1000)
    val autoRatio = auto(big).toDouble / auto(small)
    small.unpersist(); big.unpersist()
    assert(pinnedRatio > 10, f"fixed planes should grow ~quadratic: $pinnedRatio%.1f")
    assert(autoRatio < 9, f"adaptive planes should stay near-linear: $autoRatio%.1f")
    // and the sizing law itself: constant expected bucket population
    assert(Similarity.lshPlanes(500) == 6)   // fixture scale: unchanged
    assert(Similarity.lshPlanes(4000) == 9)
    assert(Similarity.lshPlanes(1L << 40, targetBucket = 8) == 37)
  }

  test("lshAutoPlan: log-scales planes where bucketing pays, floors where it cannot") {
    // enumeration regime (recall 0.9999 at cosine 0.2, near-random data):
    // the plan must take radius ~ planes−1 there, so wider signatures only
    // inflate the probe-mask fan-out exponentially (a planes=12 config
    // exploded 4095 masks into a broadcast OOM before the cost rank
    // existed) — the total-row model must keep the floor
    val (p02, r02, _) = Similarity.lshAutoPlan(20000, 0.2)
    assert(p02 == 6, s"enumeration regime must stay at the floor, got $p02")
    assert(Similarity.probeMasks(p02, r02).size <= 64)
    // production near-dup regime (0.8): bucketing pays, planes grow with
    // the corpus and keep the probe fan-out polynomial, not exponential
    val (p08a, r08a, _) = Similarity.lshAutoPlan(20000, 0.8)
    val (p08b, r08b, _) = Similarity.lshAutoPlan(2000000, 0.8)
    assert(p08a > 6, s"bucketing should pay at 0.8/20k, got planes=$p08a")
    assert(p08b >= p08a, s"planes should not shrink with the corpus: $p08a -> $p08b")
    assert(Similarity.probeMasks(p08b, r08b).size < 10000)
    // fixture scale: inside the historical search space, gates unaffected
    assert(Similarity.lshAutoPlan(500, 0.2)._1 == 6)
  }

  test("production-regime plant: twins score >=0.9 vs source, LSH at 0.8 finds exactly them") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val planted = graft.Queries.plantNearDups(e)
    val n = e.count()
    // one twin per 20th vector that has a successor to mix in
    val expectedTwins = e.filter(col("vec_id") % 20 === 0 && col("vec_id") < n - 1).count()
    assert(planted.filter(col("vec_id") >= 10000000L).count() == expectedTwins)
    assert(expectedTwins > 0, "fixture too small to plant anything")
    // the production path (cost-ranked LSH at the 0.8 corpus-dedup
    // threshold) returns exactly the planted (source, twin) pairs — same
    // set as brute force — each at >= 0.9 cosine
    val got = graft.operators.Dedup.cosinePairsLshAuto(planted, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == expectedTwins)
    assert(got.forall { case (a, b, c) => b == a + 10000000L && c >= 0.9 },
      s"unexpected pair shape: ${got.mkString(", ")}")
    val exact = graft.operators.Dedup.cosinePairsBrute(planted, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)).toSet == exact)
  }

  test("lshAutoPlan picks threshold-driven configs meeting the recall target") {
    for (n <- Seq(500L, 20000L, 2000000L);
         minCosine <- Seq(0.2, 0.35, 0.5, 0.8, 0.9);
         target <- Seq(0.999, 0.9999)) {
      val (planes, radius, tables) = Similarity.lshAutoPlan(n, minCosine, target)
      assert(radius >= 0 && radius < planes, "radius = planes is brute force by hash join")
      assert(tables >= 1)
      // re-derive the compounded boundary-pair miss and check the contract
      val p = math.acos(minCosine) / math.Pi
      val pHit = (0 to radius).map(k =>
        (0 until k).map(i => (planes - i).toDouble / (i + 1)).product *
          math.pow(p, k) * math.pow(1 - p, planes - k)).sum
      assert(1 - math.pow(1 - pHit, tables) >= target - 1e-12,
        s"n=$n minCosine=$minCosine target=$target -> ($planes, $radius, $tables)")
    }
    // tight thresholds genuinely prune: at 0.8 the planner needs few,
    // narrow probes; at 0.2 it is forced toward near-enumeration
    def cost(c: (Int, Int, Int)): Double =
      c._3 * Similarity.probeMasks(c._1, c._2).size / math.pow(2.0, c._1)
    val tightCost = cost(Similarity.lshAutoPlan(500, 0.8, 0.9999))
    val looseCost = cost(Similarity.lshAutoPlan(500, 0.2, 0.9999))
    assert(tightCost < looseCost / 2,
      s"0.8 cost $tightCost should be far below 0.2 cost $looseCost")
  }

  test("ANN top-k achieves useful recall vs brute force on fixture embeddings") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(e, q, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val approx = Similarity.annTopK(e, q, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall") // 8 tables measured 0.80
    // the sim2 production config (16 tables) clears the driver gate's 0.9
    val approx16 = Similarity.annTopK(e, q, 5, tables = 16).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall16 = (exact & approx16).size.toDouble / exact.size
    assert(recall16 >= 0.9, s"recall16=$recall16") // measured 0.96
  }

  test("IVF top-k achieves useful recall and beats nothing-shared baseline") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(e, q, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf = Similarity.ivfTopK(e, q, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("k-means improves the quantization objective and is bit-deterministic") {
    val e = graft.Tables.embeddings(spark, sf0001)
    def objective(cents: Seq[(Int, Seq[Float])]): Double =
      Similarity.ivfAssign(e, cents, keep = 1)
        .join(e.select($"vec_id", $"embedding".as("emb")), "vec_id")
        .select(avg(graft.functions.cosine_similarity($"embedding", $"emb")))
        .head().getDouble(0) // trivially 1.0 — guard the join shape
    // real objective: mean cosine of each vector to its assigned centroid
    def meanAssignedCosine(cents: Seq[(Int, Seq[Float])]): Double = {
      val cmap = typedlit(cents.toMap)
      Similarity.ivfAssign(e, cents, keep = 1)
        .select(graft.functions.cosine_similarity(
          $"embedding", element_at(cmap, $"cid")).as("c"))
        .agg(avg($"c")).head().getDouble(0)
    }
    val seed = Similarity.centroidsOf(e, 16)
    val trained = Similarity.kmeansCentroids(e, 16, iters = 3)
    assert(objective(seed) > 0.99) // join-shape guard
    val before = meanAssignedCosine(seed)
    val after = meanAssignedCosine(trained)
    assert(after > before, s"k-means objective regressed: $before -> $after")
    // deterministic: decimal-summed means make reruns bit-identical
    val rerun = Similarity.kmeansCentroids(e, 16, iters = 3)
    assert(trained == rerun)
  }

  test("lloydClusters separates obvious groups, assigns exactly once, layout-proof") {
    // two tight groups at opposite corners; init = vec_ids 0 and 1 (one
    // seed in each group), so 2 rounds must converge to the true split
    val rows = Seq(
      0L -> Array(1f, 1f, 0f, 0f), 2L -> Array(0.9f, 1.1f, 0f, 0f),
      4L -> Array(1.1f, 0.9f, 0f, 0f),
      1L -> Array(0f, 0f, 1f, 1f), 3L -> Array(0f, 0f, 1.1f, 0.9f),
      5L -> Array(0f, 0f, 0.9f, 1.1f))
    val e = rows.toDF("vec_id", "embedding")
    val got = Similarity.lloydClusters(e, k = 2, iters = 2)
    assert(got.count() == 6 && got.select("vec_id").distinct().count() == 6)
    val byCid = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCid(0L) == byCid(2L) && byCid(0L) == byCid(4L))
    assert(byCid(1L) == byCid(3L) && byCid(1L) == byCid(5L))
    assert(byCid(0L) != byCid(1L))
    // bit-deterministic under a different layout (the decimal folds are
    // order-free; doubles would drift here)
    assertSameRows(got, Similarity.lloydClusters(e.repartition(7), k = 2, iters = 2))
  }

  test("silhouetteSimplified: tight clusters score high, the midpoint scores ~0") {
    val rows = Seq(
      0L -> Array(1f, 1f, 0f, 0f), 2L -> Array(0.9f, 1.1f, 0f, 0f),
      4L -> Array(1.1f, 0.9f, 0f, 0f),
      1L -> Array(0f, 0f, 1f, 1f), 3L -> Array(0f, 0f, 1.1f, 0.9f),
      5L -> Array(0f, 0f, 0.9f, 1.1f),
      6L -> Array(0.5f, 0.5f, 0.5f, 0.5f)) // equidistant from both
    val e = rows.toDF("vec_id", "embedding")
    val got = Similarity.silhouetteSimplified(e, k = 2, iters = 2)
    val by = got.collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(by.size == 7 && by.values.forall(s => s >= -1.0 && s <= 1.0))
    Seq(0L, 2L, 4L, 1L, 3L, 5L).foreach { id =>
      assert(by(id) > 0.5, s"core point $id silhouette ${by(id)} too low") }
    // the midpoint drags its cluster's centroid toward itself, so its
    // score is low-positive (0.25 here), strictly below every core point
    assert(by(6L) < 0.4 && Seq(0L, 2L, 4L, 1L, 3L, 5L).forall(by(6L) < by(_)),
      s"midpoint silhouette ${by(6L)} not the minimum")
    assertSameRows(got,
      Similarity.silhouetteSimplified(e.repartition(5), k = 2, iters = 2))
    intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(e, k = 1)
    }
  }

  test("kCenterCoreset: farthest-point order on a crafted line, layout-proof") {
    // points on a line at 0, 1, 10, 11, 100: seed = smallest vec_id (x=0),
    // farthest-point traversal must pick 100, then 11 (dist 11 to {0,100}
    // beats 10's 10), then 1
    val rows = Seq(
      0L -> Array(0f, 0f), 1L -> Array(1f, 0f), 2L -> Array(10f, 0f),
      3L -> Array(11f, 0f), 4L -> Array(100f, 0f))
    val e = rows.toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(e, k = 4)
    assert(got.count() == 5 && got.select("vec_id").distinct().count() == 5)
    val sel = got.collect()
      .map(r => r.getLong(1) -> r.getInt(2)).toMap // center_id -> sel_round
    assert(sel == Map(0L -> 1, 4L -> 2, 3L -> 3, 1L -> 4))
    // every selected center covers itself at distance 0
    val self = got.collect().filter(r => r.getLong(0) == r.getLong(1))
    assert(self.length == 4 && self.forall(_.getDouble(3) == 0.0))
    // x=10 assigns to center 11 (its nearest selected), not to 0 or 100
    val ten = got.collect().find(_.getLong(0) == 2L).get
    assert(ten.getLong(1) == 3L && ten.getDouble(3) == 1.0)
    // bit-deterministic under a different layout (decimal folds order-free)
    assertSameRows(got, Similarity.kCenterCoreset(e.repartition(7), k = 4))
  }

  test("kCenterCoreset covers better than any prefix would: max cover dist shrinks per k") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val d4 = Similarity.kCenterCoreset(e, k = 4)
      .agg(max($"dist")).head.getDouble(0)
    val d8 = Similarity.kCenterCoreset(e, k = 8)
      .agg(max($"dist")).head.getDouble(0)
    assert(d8 < d4, s"k=8 cover $d8 must beat k=4 cover $d4")
  }

  test("semanticDecontaminate: near-copies flagged, clean vectors pass, ties to smaller bench id") {
    // bench 100 = (1,0,0,0); bench 102 = (0,1,0,0). corpus: 1 is a light
    // paraphrase of 100 (cos ~0.995), 2 is orthogonal (clean), 3 sits
    // exactly between the two bench vectors (tie -> bench 100)
    val bench = Seq(
      (100L, Array(1f, 0f, 0f, 0f)), (102L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 0.1f, 0f, 0f)), (2L, Array(0f, 0f, 1f, 1f)),
      (3L, Array(1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench, tau = 0.7)
    val by = got.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(by == Map(1L -> ((1L, 100L)), 3L -> ((2L, 100L))), s"got $by")
    assertSameRows(got,
      Similarity.semanticDecontaminate(corpus.repartition(5), bench, tau = 0.7))
  }

  test("ablateTopComponent: a planted common direction is removed entirely") {
    // vectors = u + a_i * v: mean = u, centered corpus lies ON v, so the
    // top centered direction is v and ablation should zero every vector
    val rows = Seq(
      (1L, Array(1f, -0.3f, 0f, 0f)), (2L, Array(1f, -0.1f, 0f, 0f)),
      (3L, Array(1f, 0.1f, 0f, 0f)), (4L, Array(1f, 0.3f, 0f, 0f)))
    val e = rows.toDF("vec_id", "embedding")
    val got = Similarity.ablateTopComponent(e, dim = 4)
    val by = got.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    by.foreach { case (id, (p, nb, na)) =>
      assert(na <= 1e-4, s"vec $id norm_after $na not ablated")
      assert(math.abs(math.abs(p) - nb) <= 1e-4,
        s"vec $id |proj| ${math.abs(p)} != norm_before $nb")
    }
    // magnitudes follow the planted coefficients
    assert(math.abs(by(1L)._2 - 0.3) <= 1e-4 &&
      math.abs(by(2L)._2 - 0.1) <= 1e-4)
    assertSameRows(got, Similarity.ablateTopComponent(e.repartition(3), dim = 4))
  }

  test("semanticDecontaminate: a benchmark row inside the corpus does not self-flag") {
    val bench = Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq((100L, Array(1f, 0f)), (5L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.semanticDecontaminate(corpus, bench, tau = 0.9)
      .count() == 0)
  }

  test("semanticDecontaminate: excludeSelfIds=false scores coincidentally id-equal pairs (external benchmark)") {
    // ADVICE r14: an EXTERNAL benchmark whose id space overlaps the
    // corpus must not lose a genuine contamination hit to the self-id
    // skip. Corpus 100 IS contaminated by external-bench item 100 (a
    // different dataset that reuses the id); the default contract skips
    // it, the explicit external mode flags it and counts both hits.
    val bench = Seq(
      (100L, Array(1f, 0f, 0f, 0f)), (7L, Array(0.98f, 0.2f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val self = Similarity.semanticDecontaminate(corpus, bench, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // default: the id-100 bench copy is skipped; only bench 7 hits
    assert(self == Set((100L, 1L, 7L)), s"got $self")
    val ext = Similarity.semanticDecontaminate(
        corpus, bench, tau = 0.9, excludeSelfIds = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // external mode: both bench items hit; argmax tie-breaks handled by
    // cosine then smaller bench id (exact copy 100 wins at cos 1.0)
    assert(ext == Set((100L, 2L, 100L)), s"got $ext")
  }

  test("IVF assignment puts every vector in exactly one list") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val centroids = Similarity.centroidsOf(e, 8)
    val assigned = Similarity.ivfAssign(e, centroids, keep = 1)
    assert(assigned.count() == e.count())
    assert(assigned.select("vec_id").distinct().count() == e.count())
  }

  test("LSH signatures are deterministic across invocations") {
    val e = graft.Tables.embeddings(spark, sf0001).limit(20)
    def sigs() = e.select(col("vec_id"),
        graft.functions.hyperplane_signature(col("embedding"), 6, 64))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sigs() == sigs())
  }

  test("topComponent recovers the dominant direction, unit norm, layout-proof") {
    import spark.implicits._
    // 30 vectors hugging axis 2, a little mass elsewhere: the top
    // principal component must align with axis 2
    val vecs = (1 to 30).map { i =>
      (i.toLong, Array(0.05f * (i % 3), 1.0f + 0.01f * i, 0.02f * (i % 5), 0.01f))
    }.toDF("vec_id", "embedding")
    val c = Similarity.topComponent(vecs, dim = 4, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(c(2L)) > 0.99, c.toString) // axis-2 dominates
    val norm = math.sqrt(c.values.map(v => v * v).sum)
    assert(math.abs(norm - 1.0) < 1e-6, norm.toString)
    val c2 = Similarity.topComponent(vecs.repartition(7), dim = 4, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(c == c2) // bit-identical under repartitioning
  }

  test("knnGraph emits at most k ranked neighbors per vector, sorted by cosine") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val g = Similarity.knnGraph(e, 3).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank")))
    assert(g.nonEmpty)
    g.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.length <= 3, s"vector $a has ${rows.length} neighbors")
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rows.length), s"ranks not contiguous for $a")
      // cosine non-increasing in rank; no self-edges
      assert(byRank.toList.sliding(2).forall {
        case List(x, y) => x._3 >= y._3
        case _ => true
      })
      assert(rows.forall(_._2 != a))
    }
  }

  test("randomProjection matches a hand-computed projection of a unit basis vector") {
    import spark.implicits._
    // e_0 (1 at dim 0): y_j = R(0,j) * sqrt(3/16);
    // R(0,j) = (((419*j) % 1021) % 3) - 1 (the i=0 row of the cross-term form)
    val e = Seq((1L, Array(1.0f) ++ Array.fill(63)(0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(e).collect()(0).getString(1).split(",")
    val scale = math.sqrt(3.0 / 16)
    val want = (0 until 16).map { j =>
      math.floor(((((419 * j) % 1021) % 3) - 1) * scale * 10000 + 0.5).toLong.toString
    }
    assert(got.toSeq == want)
  }

  test("matryoshka recall: one row per query, bounded, truncation loses some") {
    val df = graft.Queries.all("emb4_matryoshka_recall")(spark, sf0001)
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == (0L until 10L).toSet)
    rows.values.foreach { case (n, rec) =>
      assert(n >= 0 && n <= 5)
      assert(rec == n / 5.0)
    }
    // 16 of 64 random dims can't preserve every neighborhood perfectly,
    // but must beat chance (random top-5 of 500 would overlap ~0.01)
    val mean = rows.values.map(_._2).sum / rows.size
    assert(mean > 0.1 && mean < 1.0, s"mean recall $mean")
  }

  test("hardNegatives: band respected, positives excluded, crafted ranking") {
    // anchor 0 points at x; candidates at decreasing cosine: the 0.97 twin
    // (a positive — must be excluded by the band's upper bound), two hard
    // negatives inside [0.2, 0.8), and a near-orthogonal one below it
    val e = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.97f, 0.25f)),  // cos ≈ 0.968 → above band, excluded
      (2L, Array(0.7f, 0.714f)),  // cos ≈ 0.700 → in band, rank 1
      (3L, Array(0.3f, 0.954f)),  // cos ≈ 0.300 → in band, rank 2
      (4L, Array(0.05f, 0.999f))  // cos ≈ 0.050 → below band, excluded
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(e, e.filter(col("vec_id") === 0L),
      k = 3, loCos = 0.2, hiCos = 0.8)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((2L, 1), (3L, 2)))
    // on the planted fixture corpus: no anchor's own source (the ~0.95
    // positive) may appear, and every returned cosine is inside the band
    val planted = graft.Queries.all("hn1_hard_negatives")(spark, sf0001)
    val rows = planted.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, n, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(n != q - 10000000L, s"anchor $q returned its own source")
      assert(c >= 0.2 && c < 0.8, s"cosine $c outside band")
    }
  }

  test("ivfPqTopK: brute-force schema, k rows per query, no self-matches, " +
    "recall vs the exact scan clears the 0.9 gate floor") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf0001)
    val q = e.filter(col("vec_id") < 10)
    val got = Similarity.ivfPqTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val qn = q.count().toInt
    assert(got.length == qn * 5, s"expected ${qn * 5} rows, got ${got.length}")
    assert(got.forall(t => t._1 != t._2), "self-match leaked")
    assert(got.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 5))
    // returned cosines must equal the exact metric for those pairs
    val exact = Similarity.bruteForceTopK(e, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactCos = Similarity.bruteForceTopK(e, q, 2000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { case (qi, ni, c) =>
      exactCos.get((qi, ni)).foreach(ec => assert(ec == c, s"($qi,$ni)")) }
    // recall@5 vs exact — the pq2 gate contract
    val hits = exact.count(t => got.exists(g => g._1 == t._1 && g._2 == t._2))
    assert(hits >= exact.length * 0.9,
      s"recall ${hits.toDouble / exact.length} below 0.9 floor")
  }

  test("ivfPqDeltaMerge: a newly admitted exact twin is retrievable at " +
    "rank 1 through the merged index — no retrain, delta-sized admission") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf0001)
    val v0 = e.filter(col("vec_id") === 0)
    val delta = v0.select(lit(999999L).as("vec_id"), col("embedding"))
    val got = Similarity.ivfPqDeltaMerge(e, delta, v0, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == 5)
    val top = got.find(_._4 == 1).get
    assert(top._2 == 999999L && top._3 == 1.0, got.mkString(", "))
  }

  test("pqBatchJoinTopK: the linear batch route finds an exact twin at " +
    "rank 1 and returns k rows per query") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val qs = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(qs)
    val got = Similarity.pqBatchJoinTopK(corpus, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == 25, got.length.toString)
    (0L until 5L).foreach { q =>
      val top = got.find(t => t._1 == q + 10000000L && t._4 == 1).get
      assert(top._2 == q && top._3 == 1.0, top.toString)
    }
  }

  test("ivfPqDeltaMerge fails loudly when a delta vec_id already exists " +
    "in the base — an overlap would double-post in the merged index") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf0001)
    val v0 = e.filter(col("vec_id") === 0)
    val overlapping = e.filter(col("vec_id") < 3) // ids 0,1,2 ∈ base
    val ex = intercept[Exception] {
      Similarity.ivfPqDeltaMerge(e, overlapping, v0, 5).collect()
    }
    assert(ex.getMessage.contains("disjoint ids"), ex.getMessage)
  }

  test("ivfPqDeleteServe: a tombstoned exact twin NEVER surfaces in " +
    "results — the pruned index serves k survivors instead") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val v0 = e.filter(col("vec_id") === 0)
    val twin = v0.select(lit(999999L).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(twin)
    val dead = Seq(999999L).toDF("vec_id")
    val got = Similarity.ivfPqDeleteServe(corpus, dead, v0, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 5)
    assert(!got.exists(_._2 == 999999L), got.mkString(", "))
  }

  test("ivfPqTopK fails loudly on a zero-norm query embedding instead of " +
    "silently poisoning ADC scores with NaN") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sf0001)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val zq = Seq((999999L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.ivfPqTopK(e, zq, 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("zero-norm")), ex.getMessage)
  }

  test("productQuantize: one code per (vector, subspace), codes in range, " +
    "live codebooks, objective non-increasing in iterations") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val got = Similarity.productQuantize(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every vector gets exactly one code per subspace, codes in [0, 16)
    assert(got.length == n * 4)
    assert(got.groupBy(t => (t._1, t._2)).forall(_._2.length == 1))
    got.foreach { case (v, sm, code, dist) =>
      assert(sm >= 0 && sm < 4 && code >= 0 && code < 16 && dist >= 0.0,
        s"vec $v sm $sm code $code dist $dist")
    }
    // all 4 codebooks are actually used (multiple codes per subspace)
    (0 until 4).foreach { s =>
      assert(got.filter(_._2 == s).map(_._3).distinct.length > 1, s"sm $s")
    }
    // Lloyd objective (total quantization error) never increases with
    // more iterations
    def objective(iters: Int) =
      Similarity.productQuantize(emb, iters = iters).collect()
        .map(_.getDouble(3)).sum
    assert(objective(2) <= objective(1) + 1e-6)
  }

  test("knnLabelSpread: on a clustered corpus the vote recovers every hidden label") {
    // three orthogonal-axis clusters with small same-axis jitter: any
    // vector's nearest neighbors are its own cluster, so every hidden
    // vector must vote its true label — accuracy 1.0, pure diagonal
    val rows = for {
      c <- 0 until 3
      i <- 0 until 40
    } yield {
      val base = Array.fill(6)(0.01f)
      base(c * 2) = 1.0f + (i % 5) * 0.01f
      base(c * 2 + 1) = 0.5f
      (c * 1000L + i, base.toSeq, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Similarity.knnLabelSpread(df).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"off-diagonal confusion on a separable corpus: $r")
    }
    // every cluster contributes at least one hidden vector at this size
    assert(got.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
  }

  test("knnLabelSpread: a split vote resolves to the smallest label") {
    // every vector identical -> all rounded cosines are 1.0, so each
    // hidden vector's k=2 neighbor set is the two smallest LABELED
    // vec_ids (the rank tiebreak: cosine desc, n_id asc); labels are
    // all distinct (label = vec_id), so the vote is 1:1 and must
    // resolve to the SMALLER of the two labels (the vote tiebreak)
    val df = (1L to 12L)
      .map(i => (i, Seq(1.0f, 0.0f), i.toInt))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // replicate the operator's fold split to derive the expected winner
    val labeledIds = df
      .select(col("vec_id"), Sampling.hashBucket(
        concat(lit("lab-split:"), col("vec_id").cast("string")), 10).as("f"))
      .collect().filter(_.getLong(1) < 8).map(_.getLong(0)).sorted
    assume(labeledIds.length >= 2 && labeledIds.length < 12,
      "degenerate fold split for this id range")
    val expected = labeledIds.take(2).min
    val got = Similarity.knnLabelSpread(df, k = 2).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(1) == expected,
      s"tie must resolve to label $expected, got row $r"))
  }

  test("marginMine: mutual top-1 + exact ratio margin on crafted orthogonals") {
    // a1↔b1 and a2↔b2 are exact matches, everything else orthogonal:
    // with k = 2 each side's neighborhood mean is (1.0 + 0.0)/2 = 0.5,
    // so both mutual pairs score margin 1.0/0.5 = 2.0 and are mined
    val a = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("a_id", "emb")
    val b = Seq((10L, Array(1f, 0f, 0f)), (20L, Array(0f, 1f, 0f)))
      .toDF("b_id", "emb")
    val got = Similarity.marginMine(a, b, k = 2).collect()
      .map(r => r.getAs[Long]("a_id") -> r).toMap
    assert(got.size == 2)
    assert(got(1L).getAs[Long]("b_id") == 10L)
    assert(got(2L).getAs[Long]("b_id") == 20L)
    got.values.foreach { r =>
      assert(r.getAs[Double]("cosine") == 1.0)
      assert(math.abs(r.getAs[Double]("margin") - 2.0) < 1e-9)
      assert(r.getAs[Boolean]("mined"))
    }
  }

  test("bitext1 on the fixture: every planted translation mined, high band pure") {
    val rows = graft.Queries.all("bitext1_margin_mining")(spark, sf0001).collect()
    val planted = rows.filter(_.getAs[Boolean]("planted"))
    // the plant puts every fifth vector identically on both sides: all
    // 100 must surface as mutual top-1 with cosine 1.0 and be mined
    assert(planted.length == 100, s"got ${planted.length} planted pairs")
    planted.foreach { r =>
      assert(r.getAs[Double]("cosine") == 1.0)
      assert(r.getAs[Boolean]("mined"), s"planted pair ${r.getLong(1)} missed")
    }
    // margins separate: the WEAKEST true translation outscores the
    // STRONGEST random mutual neighbor (measured band: ~1.8 vs ~1.37)
    val unplanted = rows.filter(!_.getAs[Boolean]("planted"))
    if (unplanted.nonEmpty) {
      val minPlanted = planted.map(_.getAs[Double]("margin")).min
      val maxRandom = unplanted.map(_.getAs[Double]("margin")).max
      assert(minPlanted > maxRandom,
        s"margin bands overlap: planted >= $minPlanted, random <= $maxRandom")
    }
  }

  test("hubnessAudit: a crafted hub carries the k-occurrence mass, exact moments") {
    // top-1 lists: a -> h, b -> h, h -> a  =>  k_occ: h 2, a 1, b 0.
    // moments over [2,1,0]: mean 1, m3 = 3 - 5 + 2 = 0 -> skew 0
    val e = Seq(
      (1L, Array(1f, 0f)),        // h, the hub
      (2L, Array(1f, 0.1f)),      // a
      (3L, Array(1f, -0.2f)))     // b
      .toDF("vec_id", "embedding")
    val got = Similarity.hubnessAudit(e, k = 1).collect()
      .map(r => r.getAs[Long]("k_occ") -> r).toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    got.values.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == 1)
      assert(r.getAs[Double]("mean_k_occ") == 1.0)
      assert(r.getAs[Double]("skewness") == 0.0)
    }
  }

  test("hub1 on the fixture: occurrence mass conserved, mean is exactly k") {
    val rows = graft.Queries.all("hub1_hubness")(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == 500L)
    assert(rows.map(r => r.getAs[Long]("k_occ") * r.getAs[Long]("n_vectors")).sum
      == 2500L, "every vector emits exactly k = 5 edges")
    rows.foreach(r => assert(r.getAs[Double]("mean_k_occ") == 5.0))
    // the uniform fixture should not be pathologically hubby
    val skew = rows.head.getAs[Double]("skewness")
    assert(skew > -3.0 && skew < 3.0, s"skew $skew")
  }

  test("binaryHammingRecall: rerank recovers what raw Hamming ranks wrong") {
    import spark.implicits._
    // 64-dim crafted set, query = vec 0 (all +1):
    //   v1 all +1            -> hamming 0, cosine 1.0
    //   v2 dim0 flipped      -> hamming 1, cosine 62/64 = 0.9688
    //   v3 same signs, mass on dim0 -> hamming 0 but cosine ~0.126
    //   v4 dims 0-2 flipped  -> hamming 3, cosine 58/64 = 0.9063
    // exact top-2 = {v1, v2}; raw Hamming top-2 = {v1, v3} (tie h=0,
    // id asc) -> recall 0.5; rerank of the Hamming top-4 fixes it.
    val ones = Array.fill(64)(1f)
    def flip(n: Int) = ones.zipWithIndex.map { case (x, i) => if (i < n) -x else x }
    val v3 = Array.tabulate(64)(i => if (i == 0) 100f else 0.01f)
    val e = Seq((0L, ones), (1L, ones), (2L, flip(1)), (3L, v3), (4L, flip(3)))
      .toDF("vec_id", "embedding")
    val r = Similarity.binaryHammingRecall(e, nQueries = 1, candK = 4, k = 2)
      .collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_queries") == 1)
    assert(r.head.getAs[Long]("n_exact") == 2)
    assert(r.head.getAs[Double]("recall_binary") == 0.5)
    assert(r.head.getAs[Double]("recall_reranked") == 1.0)
  }

  test("bq1 on the fixture: rerank never loses to raw Hamming") {
    val r = graft.Queries.all("bq1_binary_hamming")(spark, sf0001).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_queries") == 10)
    assert(r.head.getAs[Long]("n_exact") == 50)
    val raw = r.head.getAs[Double]("recall_binary")
    val rr = r.head.getAs[Double]("recall_reranked")
    assert(raw >= 0.0 && raw <= 1.0 && rr >= 0.0 && rr <= 1.0)
    assert(rr >= raw, s"rerank must not lose recall: raw=$raw reranked=$rr")
  }

  test("prototypePrune: keeps the hardest half of each planted cluster") {
    import spark.implicits._
    // two 4-vector clusters on a line; after 2 lloyd rounds the means
    // are 0.15 and 10.15, so per cluster the boundary vectors (dist
    // 0.15^2) are the kept "hard" half and the inner ones (0.05^2) drop
    val e = Seq(0.0, 0.1, 0.2, 0.3, 10.0, 10.1, 10.2, 10.3).zipWithIndex
      .map { case (x, i) => ((i + 1).toLong, Array(x, 0.0)) }
      .toDF("vec_id", "embedding")
    val r = Similarity.prototypePrune(e, k = 2, iters = 2, keepFrac = 0.5)
      .collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(row.getAs[Long]("n_vectors") == 4)
      assert(row.getAs[Long]("n_kept") == 2)
      assert(row.getAs[Double]("cut_dist") == 0.0225)
      assert(row.getAs[Double]("mean_kept") == 0.0225)
      assert(row.getAs[Double]("mean_dropped") == 0.0025)
    }
  }

  test("ssp1 on the fixture: prototypical mass is what drops") {
    val rows = graft.Queries.all("ssp1_prototype_prune")(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == 500L)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vectors")
      assert(r.getAs[Long]("n_kept") == (n + 1) / 2, s"ceil(n/2) kept: $r")
      if (!r.isNullAt(r.fieldIndex("mean_dropped")))
        assert(r.getAs[Double]("mean_kept") >= r.getAs[Double]("mean_dropped"),
          s"kept must be the far-from-prototype half: $r")
    }
  }

  test("bitext2 gate holds: ANN mining recovers every plant + the high band") {
    val r = graft.Queries.all("bitext2_gate")(spark, sf0001).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_planted") == 100L)
    assert(r.head.getAs[Boolean]("recall_ok"), s"high-band recall broke: ${r.head}")
    assert(r.head.getAs[Boolean]("planted_ok"), s"a planted pair missed: ${r.head}")
  }
}
