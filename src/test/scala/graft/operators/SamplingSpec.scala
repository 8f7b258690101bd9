package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkTestBase {

  test("deterministic sample: stable across partitionings, near the rate") {
    val orders = Tables.orders(spark, sf0001)
    val s1 = Sampling.deterministicSample(orders, col("o_orderkey"), 0.2)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.deterministicSample(orders.repartition(7), col("o_orderkey"), 0.2)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // identical membership regardless of layout
    val rate = s1.size.toDouble / orders.count()
    assert(rate > 0.15 && rate < 0.25, s"rate=$rate")
  }

  test("mixSources keeps per-source fractions, deterministically") {
    val docs = Tables.documents(spark, sf0001)
    val rates = Map("src0" -> 1.0, "src1" -> 0.5)
    val kept = Sampling.mixSources(docs, col("source"), col("doc_id"), rates, 0.2)
    val bySource = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("src0") == total("src0")) // rate 1.0 keeps everything
    assert(bySource.getOrElse("src1", 0L) < total("src1"))
    // a source's kept SET is independent of every other source's rate:
    // retuning the mix never churns rows you already trained on
    val retuned = Sampling.mixSources(docs, col("source"), col("doc_id"),
      Map("src0" -> 0.1, "src1" -> 0.5), 0.9)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("source") === "src1").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(ids(kept) == ids(retuned))
    intercept[IllegalArgumentException](
      Sampling.mixSources(docs, col("source"), col("doc_id"), Map("a" -> 1.5), 0.2))
  }

  test("targetMix water-fills to the scarcest source and hits the proportions") {
    import spark.implicits._
    // A:100, B:50, C:10 rows, targets 0.5/0.3/0.2 → cap = min(200, 166.7,
    // 50) = 50 → expected keeps ≈ 25/15/10; C is limiting and keeps ALL
    val rows = (1 to 100).map(i => (i.toLong, "A")) ++
      (101 to 150).map(i => (i.toLong, "B")) ++
      (151 to 160).map(i => (i.toLong, "C")) ++
      (161 to 180).map(i => (i.toLong, "D")) // untargeted: dropped
    val df = rows.toDF("doc_id", "source")
    val kept = Sampling.targetMix(df, col("source"), col("doc_id"),
      Map("A" -> 0.5, "B" -> 0.3, "C" -> 0.2))
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("C") == 10L, s"limiting source keeps everything: $bySrc")
    assert(!bySrc.contains("D"), "untargeted sources drop")
    // hash granularity wobbles small samples; bound, don't pin
    assert(bySrc("A") >= 15 && bySrc("A") <= 35, bySrc.toString)
    assert(bySrc("B") >= 8 && bySrc("B") <= 22, bySrc.toString)
    // deterministic under repartitioning
    val kept2 = Sampling.targetMix(df.repartition(7), col("source"), col("doc_id"),
      Map("A" -> 0.5, "B" -> 0.3, "C" -> 0.2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == kept2)
  }

  test("dataset split covers every row once with stable assignment") {
    val docs = Tables.documents(spark, sf0001)
    val split = Sampling.datasetSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.count() == docs.count())
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    // growing the corpus never reassigns an existing row
    val half = Sampling.datasetSplit(docs.filter(col("doc_id") < 250), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    val full = split.collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(half.forall { case (k, v) => full(k) == v })
  }

  test("weighted sample: exact k, deterministic, and weight-biased") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("n_chars"))
    val k = 100
    val a = Sampling.weightedSample(docs, col("doc_id"), col("n_chars") + lit(1L), k)
    assert(a.count() == k)
    // pure function of the keys: a repartitioned rerun draws the same rows
    val b = Sampling.weightedSample(docs.repartition(13),
      col("doc_id"), col("n_chars") + lit(1L), k)
    assertSameRows(a, b)
    // inclusion odds ∝ weight: the sampled mean n_chars must exceed the
    // corpus mean by a clear margin (chance ~2^-k for an unbiased draw)
    val sampleMean = a.agg(avg(col("n_chars"))).head.getDouble(0)
    val corpusMean = docs.agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("weighted sample: a heavily-weighted row dominates inclusion") {
    import spark.implicits._
    // one row carries ~10^6× the weight mass of any other: the race key
    // −ln(u)/w makes its key ~10^6× smaller than a typical peer's, so it
    // must be drawn into any k ≥ 2 sample
    val rows = (1L to 500L).map(i => (i, if (i == 137L) 1000000L else 1L))
      .toDF("id", "w")
    val got = Sampling.weightedSample(rows, col("id"), col("w"), 10)
      .select("id").as[Long].collect().toSet
    assert(got.contains(137L))
  }

  test("temperatureMix: τ=1 is identity, τ=0.5 tempers toward uniform") {
    val docs = Tables.documents(spark, sf0001)
    // τ=1: tempered shares equal natural shares → every rate is 1
    assert(Sampling.temperatureMix(docs, col("source"), col("doc_id"), 1.0)
      .count() == docs.count())

    val kept = Sampling.temperatureMix(docs, col("source"), col("doc_id"), 0.5)
    val keptBy = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totBy = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the scarcest source is kept whole (its rate is exactly 1)...
    val smallest = totBy.minBy(t => (t._2, t._1))._1
    assert(keptBy(smallest) == totBy(smallest))
    // ...and kept counts track C·sqrt(n) at bucket resolution: the ratio
    // kept/sqrt(total) must be near-constant across sources
    val ratios = totBy.keys.toSeq.map(s =>
      keptBy.getOrElse(s, 0L).toDouble / math.sqrt(totBy(s).toDouble))
    assert(ratios.max / ratios.min < 1.6,
      s"tempered shares drifted: ${ratios.min} .. ${ratios.max}")
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(docs, col("source"), col("doc_id"), 0.0))
  }

  test("PoissonBootstrapWeights kernel matches the declarative md5-window draws") {
    // the kernel re-implements digest-window parsing in JVM byte code; pin
    // it bit-for-bit against the declarative conv/substr/pmod form it
    // replaced (which is also what the DuckDB oracle reads)
    import org.apache.spark.sql.functions._
    val b = 8
    val df = spark.range(500).select(col("id").cast("string").as("k"))
    val kernel = df.select(col("k"),
      graft.functions.poisson_bootstrap_weights(col("k"), b,
        Sampling.poisson1Cum).as("ws"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val uLadder = (u: org.apache.spark.sql.Column) =>
      Sampling.poisson1Cum.zipWithIndex.reverse
        .foldLeft(lit(9L): org.apache.spark.sql.Column) { case (acc, (c, kk)) =>
          when(u < c, kk.toLong).otherwise(acc)
        }
    val declared = df.select(col("k") +: (0 until b).map { rep =>
        val m = md5(concat(lit("bs"), lit((rep / 4).toLong), lit(":"), col("k")))
        val u = pmod(conv(m.substr((rep % 4) * 8 + 1, 8), 16, 10).cast("long"),
          lit(1000000L)).cast("double") / 1000000.0
        uLadder(u).as(s"w$rep")
      }: _*)
      .collect().map(r => r.getString(0) ->
        (1 to b).map(i => r.getLong(i)).toSeq).toMap
    assert(kernel.keySet == declared.keySet)
    kernel.foreach { case (k, ws) =>
      assert(ws == declared(k), s"key $k: kernel $ws vs declarative ${declared(k)}")
    }
  }

  test("packSequences: contiguous per-shard stream, exact cut math, layout-stable") {
    val docs = Tables.documents(spark, sf0001)
    val nTok = org.apache.spark.sql.functions.size(split(col("text"), " "))
    val m = Sampling.packSequences(docs, col("doc_id"), nTok,
      capacity = 512, shards = 8)
      .select("doc_id", "shard", "pos", "n_tok", "start_tok",
        "seq_id", "seq_offset", "straddles").cache()
    assert(m.count() == docs.count())
    // the stream is gapless: each doc starts exactly where the previous
    // one in its shard ended, and pos 1 starts at 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("pos")
    val gaps = m.withColumn("_prev_end",
        coalesce(lag(col("start_tok") + col("n_tok"), 1).over(w), lit(0L)))
      .filter(col("start_tok") =!= col("_prev_end"))
    assert(gaps.count() == 0)
    // cut math: seq_id/seq_offset are the floor-div/mod pair, and the
    // straddle flag is exactly "ends in a later sequence than it starts"
    val badMath = m.filter(
      col("seq_id") * 512 + col("seq_offset") =!= col("start_tok") ||
        col("straddles") =!= (((col("start_tok") + col("n_tok") - 1) -
          pmod(col("start_tok") + col("n_tok") - 1, lit(512L))) / 512 >
          col("seq_id")))
    assert(badMath.count() == 0)
    // both straddling and fitting docs exist at this capacity
    assert(m.filter(col("straddles")).count() > 0)
    assert(m.filter(!col("straddles")).count() > 0)
    // pure function of the keys: stable under layout
    val m2 = Sampling.packSequences(docs.repartition(11), col("doc_id"), nTok,
      capacity = 512, shards = 8)
      .select("doc_id", "shard", "pos", "n_tok", "start_tok",
        "seq_id", "seq_offset", "straddles")
    assert(m.exceptAll(m2).isEmpty && m2.exceptAll(m).isEmpty)
    m.unpersist()
  }

  test("epochShuffle: per-shard permutation, epoch-dependent, layout-stable") {
    val docs = Tables.documents(spark, sf0001)
    val m = Sampling.epochShuffle(docs, col("doc_id"), epoch = 1, shards = 8)
      .select("doc_id", "shard", "pos").cache()
    assert(m.count() == docs.count())
    // positions are dense 1..n within every shard (a true permutation)
    val bad = m.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
        countDistinct("pos").as("d"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1 || col("d") =!= col("n"))
    assert(bad.count() == 0)
    // the manifest is a pure function of (epoch, key): stable under layout
    val m2 = Sampling.epochShuffle(docs.repartition(11), col("doc_id"), 1, 8)
      .select("doc_id", "shard", "pos")
    assert(m.exceptAll(m2).isEmpty && m2.exceptAll(m).isEmpty)
    // a different epoch reorders: same rows, mostly different (shard, pos)
    val m3 = Sampling.epochShuffle(docs, col("doc_id"), epoch = 2, shards = 8)
      .select("doc_id", "shard", "pos")
    val moved = m.join(m3, "doc_id")
    assert(moved.count() == docs.count())
    val same = m.intersect(m3).count()
    assert(same < docs.count() / 4,
      s"epoch 2 left $same of ${docs.count()} rows in place")
    m.unpersist()
  }

  test("oversampleMix duplicates deterministically with copy indices") {
    val docs = Tables.documents(spark, sf0001)
    val rates = Map("src0" -> 2.5, "src1" -> 1.0)
    val out = Sampling.oversampleMix(docs, col("source"), col("doc_id"),
      rates, defaultRate = 0.4).cache()
    val totBy = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outBy = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate 1.0 → exactly one copy of every row; copy index is 1
    assert(outBy("src1") == totBy("src1"))
    assert(out.filter(col("source") === "src1" && col("copy") =!= 1).count() == 0)
    // rate 2.5 → every row at least twice, roughly half a third time
    val s0 = outBy("src0").toDouble / totBy("src0")
    assert(s0 >= 2.0 && s0 <= 3.0, s"src0 multiplicity $s0")
    assert(out.filter(col("source") === "src0").groupBy("doc_id").count()
      .filter(col("count") < 2 || col("count") > 3).count() == 0)
    // copies are indexed 1..k: (doc_id, copy) is unique
    assert(out.groupBy("doc_id", "copy").count().filter(col("count") > 1).count() == 0)
    // deterministic under repartitioning
    val out2 = Sampling.oversampleMix(docs.repartition(9), col("source"),
      col("doc_id"), rates, defaultRate = 0.4)
      .select("doc_id", "copy")
    val a = out.select("doc_id", "copy")
    assert(a.exceptAll(out2).isEmpty && out2.exceptAll(a).isEmpty)
    out.unpersist()
    intercept[IllegalArgumentException](
      Sampling.oversampleMix(docs, col("source"), col("doc_id"),
        Map("a" -> -0.1), 0.4))
  }

  test("bootstrapMeans: replicate means bracket the truth, layout-stable") {
    val orders = Tables.orders(spark, sf0001)
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    val m = Sampling.bootstrapMeans(orders, col("o_orderkey"), cents, b = 32)
      .cache()
    assert(m.count() == 32)
    val means = m.collect().map(_.getDouble(2))
    val truth = orders.agg(avg(col("o_totalprice"))).head.getDouble(0)
    // every replicate mean sits within a loose band of the true mean
    // (Poisson-bootstrap spread of a 1.5k-row mean is ~2-3%)
    assert(means.forall(x => math.abs(x - truth) / truth < 0.15),
      s"truth=$truth means=${means.min}..${means.max}")
    // the replicates genuinely differ (they are the CI signal)
    assert(means.distinct.length > 16)
    // Poisson(1) multiplicities: resampled sizes concentrate around n
    val sizes = m.collect().map(_.getLong(1))
    val n = orders.count()
    assert(sizes.forall(s => s > n * 8 / 10 && s < n * 12 / 10))
    // pure function of (replicate, key): identical under repartition
    val m2 = Sampling.bootstrapMeans(orders.repartition(7),
      col("o_orderkey"), cents, b = 32)
    assert(m.exceptAll(m2).isEmpty && m2.exceptAll(m).isEmpty)
    m.unpersist()
  }

  test("stratified rates: each subgroup converges to the global fraction") {
    val orders = Tables.orders(spark, sf0001)
    val rates = Sampling.deterministicSample(orders, col("o_orderkey"), 0.2)
      .groupBy("o_orderpriority").count().as("s")
      .join(orders.groupBy("o_orderpriority").count().as("t"), "o_orderpriority")
      .select(col("s.count") / col("t.count"))
      .collect().map(_.getDouble(0))
    assert(rates.forall(r => r > 0.1 && r < 0.3), rates.mkString(","))
  }

  test("materializeShard: packed sequences obey the manifest — capacity cuts, " +
    "offset round-trip, straddle flags — and survive a parquet round-trip") { withTempDir("graft-pack") { tmp =>
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
    val (capacity, shards, shard) = (64, 4, 0)
    val toksCol = split(col("text"), " ")
    val manifest = Sampling.packSequences(docs, col("doc_id"),
      size(toksCol), capacity, shards)
      .filter(col("shard") === shard)
      .select("doc_id", "n_tok", "start_tok", "seq_id", "seq_offset", "straddles")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(manifest.nonEmpty)
    // materialize, write, re-read: bytes on disk are the contract
    val out = tmp.toString
    Sampling.materializeShard(docs, col("doc_id"), toksCol,
      capacity, shards, shard).write.mode("overwrite").parquet(out)
    val packed = spark.read.parquet(out).orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2)))
    // sequence ids are dense from 0; every sequence but the last is FULL
    assert(packed.map(_._1).toSeq == (0L until packed.length).toSeq)
    packed.init.foreach { case (id, toks, n) =>
      assert(n == capacity && toks.length == capacity, s"seq $id not full") }
    // total tokens match the manifest's accounting
    assert(packed.map(_._3).sum == manifest.map(_._2).sum)
    // the packed stream replays every document verbatim at its offsets
    val stream = packed.flatMap(_._2)
    val original = docs.select(col("doc_id"), toksCol.as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    manifest.foreach { case (docId, nTok, startTok, seqId, seqOff, straddles) =>
      val slice = stream.slice(startTok.toInt, (startTok + nTok).toInt).toSeq
      assert(slice == original(docId), s"doc $docId does not round-trip")
      // manifest geometry is self-consistent with the materialized cut
      assert(seqId == startTok / capacity && seqOff == startTok % capacity)
      assert(straddles == (seqOff + nTok > capacity),
        s"doc $docId straddle flag inconsistent")
    }
  }}

  test("packSequencesNoStraddle: no document crosses a boundary, sequences " +
    "fill greedily, and the order matches packSequences exactly") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
    val (capacity, shards) = (128, 4)
    val toksN = size(split(col("text"), " "))
    val got = Sampling.packSequencesNoStraddle(docs, col("doc_id"), toksN,
      capacity, shards).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
      .sortBy(t => (t._1, t._2)) // (shard, pos)
    assert(got.nonEmpty)
    got.foreach { case (_, _, _, nTok, eff, _, off, trunc) =>
      // the no-straddle invariant is total, via truncation when needed
      assert(off + eff <= capacity)
      assert(trunc == (nTok > capacity) && eff == math.min(nTok, capacity))
    }
    // replay the greedy fold per shard: offsets and seq ids must match
    got.groupBy(_._1).foreach { case (shard, rows) =>
      var seq = 0L; var fill = 0L
      rows.sortBy(_._2).foreach { case (_, pos, _, _, eff, gotSeq, gotOff, _) =>
        if (fill + eff > capacity) { seq += 1; fill = 0L }
        assert(gotSeq == seq && gotOff == fill,
          s"shard $shard pos $pos diverges from the greedy fold")
        fill += eff
      }
    }
    // same shard assignment and order as the straddling packer — the two
    // variants are drop-in siblings over one shuffle discipline
    val p1 = Sampling.packSequences(docs, col("doc_id"), toksN,
      capacity, shards).select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val p2 = got.map(t => (t._3, t._1, t._2)).sorted
    assert(p1.toSeq == p2.toSeq)
    // greedy next-fit can only use MORE sequences than concat-and-cut
    val seqsUsed = got.groupBy(_._1).view.mapValues(_.map(_._6).max + 1)
    val minimal = got.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._5).sum + capacity - 1) / capacity)
    seqsUsed.foreach { case (sh, n) => assert(n >= minimal(sh)) }
  }

  test("packSequencesNoStraddle truncates over-capacity documents and flags them") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
    // capacity 8 makes essentially every fixture document over-capacity
    val got = Sampling.packSequencesNoStraddle(docs, col("doc_id"),
      size(split(col("text"), " ")), capacity = 8, shards = 2).collect()
      .map(r => (r.getLong(3), r.getLong(4), r.getLong(6), r.getBoolean(7)))
    assert(got.nonEmpty)
    val truncated = got.filter(_._4)
    assert(truncated.nonEmpty, "expected over-capacity docs at capacity 8")
    truncated.foreach { case (nTok, eff, off, _) =>
      assert(nTok > 8 && eff == 8L && off == 0L,
        "a truncated doc fills exactly one whole sequence from offset 0")
    }
    got.filterNot(_._4).foreach { case (nTok, eff, off, _) =>
      assert(eff == nTok && off + eff <= 8L)
    }
  }

  test("packSequencesNoStraddle fails loudly on a null token count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Sampling.packSequencesNoStraddle(docs, col("doc_id"),
        size(split(col("text"), " ")), capacity = 8, shards = 1).collect()
    }
    // the fold's getLong would NPE opaquely; the guard names the contract
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("null nTokens")), ex.toString)
  }

  test("temporalSplit: exact cuts, embargo gap, leak audit counts cross-cut users") {
    import spark.implicits._
    // range 0..100 s -> cut1 = 70 s, cut2 = 80 s.
    // u1 trains AND tests (leaks); u2 only embargo; u3 only test; u4 trains.
    val ev = Seq(
      (1L, "u1", 0L), (2L, "u4", 65L), (3L, "u2", 75L),
      (4L, "u1", 85L), (5L, "u3", 100L))
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Sampling.temporalSplit(ev).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    assert(got("train") == ((2L, 2L, 2L)), s"train: ${got("train")}")
    assert(got("embargo") == ((1L, 1L, 0L)), s"embargo: ${got("embargo")}")
    assert(got("test") == ((2L, 2L, 1L)), s"test: ${got("test")}")
    // boundary: an event exactly AT cut1 is train (<=), at cut2 embargo
    val edge = Seq((1L, "a", 0L), (2L, "b", 70L), (3L, "c", 80L),
      (4L, "d", 100L))
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val sp = Sampling.temporalSplit(edge).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sp == Map("train" -> 2L, "embargo" -> 1L, "test" -> 1L), s"$sp")
    intercept[IllegalArgumentException] {
      Sampling.temporalSplit(ev, trainPct = 90, embargoPct = 10)
    }
  }

  test("temporalSplit on the fixture: partitions are exhaustive, ordered, budget-shaped") {
    val got = Sampling.temporalSplit(Tables.events(spark, sf0001)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set("train", "embargo", "test"))
    val total = got.values.map(_._1).sum
    assert(total == Tables.events(spark, sf0001).count())
    // spans are disjoint and ordered train < embargo < test
    assert(got("train")._3 < got("embargo")._2 || got("embargo")._1 == 0)
    assert(got("embargo")._3 < got("test")._2)
    // ~70% of the time RANGE holds the bulk of uniform-ish events
    assert(got("train")._1 > total / 2)
  }

  test("curriculumOrder: macro order is the quality band, positions dense, layout-proof") {
    import spark.implicits._
    // ppl1's crafted corpus: d1/d2 head, d3 middle, d4 tail
    val docs = Seq(
      (1L, "t t t t", "en"), (2L, "t t t u", "en"),
      (3L, "t u u v", "en"), (4L, "q r s v", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Sampling.curriculumOrder(docs, shards = 2)
    val rows = got.collect()
    assert(rows.length == 4)
    val band = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(band == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 3))
    // positions dense 1..k inside every (band, shard)
    rows.groupBy(r => (r.getInt(2), r.getLong(4))).foreach { case (g, rs) =>
      assert(rs.map(_.getLong(5)).sorted.toSeq == (1L to rs.length).toSeq,
        s"group $g positions not dense")
    }
    assertSameRows(got, Sampling.curriculumOrder(docs.repartition(5), shards = 2))
  }

  test("curriculumOrder on the fixture: band sizes match ppl1's partition") {
    val docs = Tables.documents(spark, sf0001)
    val cur = Sampling.curriculumOrder(docs)
    val fromCur = cur.groupBy(col("lang"), col("bucket_id")).count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val fromPpl = TextAnalysis.perplexityBuckets(docs)
      .groupBy(col("lang"), col("bucket_id")).count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fromCur == fromPpl)
  }

  test("paddingAudit: sorted batching never pads more than hash order") {
    import spark.implicits._
    val docs = (1L to 200L)
      .map(i => (i, Seq.fill((i % 37 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Sampling.paddingAudit(docs, batchSize = 4, shards = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("hash_order", "length_sorted"))
    val (h, s) = (got("hash_order"), got("length_sorted"))
    // same corpus, same shards, same batch size -> same batch count and
    // identical real-token mass; only the padding differs
    assert(h.getAs[Long]("n_batches") == s.getAs[Long]("n_batches"))
    assert(h.getAs[Long]("real_tokens") == s.getAs[Long]("real_tokens"))
    // within each shard, consecutive grouping of the length-sorted order
    // minimizes the sum of per-batch maxima (exchange argument) — sorted
    // padding can never exceed the hash order's
    assert(s.getAs[Long]("padded_tokens") <= h.getAs[Long]("padded_tokens"))
    assert(s.getAs[Long]("padded_tokens") >= s.getAs[Long]("real_tokens"))
  }

  test("paddingAudit: exact numbers on a single-shard crafted corpus") {
    import spark.implicits._
    // one shard, batch 2, lengths 1/2/3/4 -> sorted batches (1,2),(3,4):
    // padded = 2*2 + 4*2 = 12, real = 10
    val docs = Seq((1L, "w"), (2L, "w w"), (3L, "w w w"), (4L, "w w w w"))
      .toDF("doc_id", "text")
    val s = Sampling.paddingAudit(docs, batchSize = 2, shards = 1)
      .collect().map(r => r.getString(0) -> r).toMap.apply("length_sorted")
    assert(s.getAs[Long]("n_batches") == 2)
    assert(s.getAs[Long]("real_tokens") == 10 && s.getAs[Long]("padded_tokens") == 12)
    assert(math.abs(s.getAs[Double]("pad_frac") - (1.0 - 10.0 / 12)) < 1e-6)
  }

  test("lengthMix: exact short-bucket rate, long docs never drop, crafted") {
    import spark.implicits._
    // long mass 300, short mass 200, target 0.75 ->
    // r = 300*(1-0.75)/(0.75*200) = 0.5 exactly (thresh 5000)
    val docs = Seq(
      (1L, Seq.fill(100)("w").mkString(" ")), (2L, Seq.fill(100)("w").mkString(" ")),
      (3L, Seq.fill(100)("w").mkString(" ")),
      (4L, Seq.fill(50)("w").mkString(" ")), (5L, Seq.fill(50)("w").mkString(" ")),
      (6L, Seq.fill(50)("w").mkString(" ")), (7L, Seq.fill(50)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Sampling.lengthMix(docs, col("doc_id"),
        size(split(col("text"), " ")), longMin = 64, targetLongShare = 0.75)
      .collect().map(r => r.getString(0) -> r).toMap
    val lg = got("long"); val sh = got("short")
    assert(lg.getAs[Long]("kept_docs") == 3 && lg.getAs[Long]("kept_tokens") == 300)
    assert(lg.getAs[Double]("keep_rate") == 1.0)
    assert(sh.getAs[Double]("keep_rate") == 0.5)
    assert(sh.getAs[Long]("n_docs") == 4 && sh.getAs[Long]("kept_docs") <= 4)
    // achieved share recomputed from the kept masses, micro-rounded
    val kt = lg.getAs[Long]("kept_tokens") + sh.getAs[Long]("kept_tokens")
    val expect = math.floor(300.0 / kt * 1e6 + 0.5) / 1e6
    assert(lg.getAs[Double]("achieved_long_share") == expect)
  }

  test("ctx1 on the fixture: downsampling bites and lands near the 0.75 target") {
    val rows = graft.Queries.all("ctx1_length_mix")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size == 2)
    val lg = rows("long"); val sh = rows("short")
    assert(lg.getAs[Long]("kept_docs") == lg.getAs[Long]("n_docs"),
      "long docs must never drop")
    assert(sh.getAs[Double]("keep_rate") < 1.0, "short downsampling must bite")
    val share = lg.getAs[Double]("achieved_long_share")
    // natural share is ~0.6; the rate snap keeps the landing within
    // the hash-grid band of the target
    assert(share > 0.7 && share < 0.8, s"achieved $share")
  }
}
