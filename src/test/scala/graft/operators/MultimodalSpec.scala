package graft.operators

import graft.{SparkTestBase, Tables}

class MultimodalSpec extends SparkTestBase {

  test("mapPartitions decode and SQL twin produce identical features") {
    val media = TextMediaStub.asMediaTable(Tables.documents(spark, sf0001).limit(50))
    val viaDs = TextMediaStub.decode(spark, media).toDF()
    val viaSql = TextMediaStub.decodeSql(media)
      .select("doc_id", "byte_len", "header", "width", "height")
    assertSameRows(viaDs.select("doc_id", "byte_len", "header", "width", "height"), viaSql)
  }

  test("decode parity holds for multibyte-leading and empty payloads") {
    import spark.implicits._
    // '中'-leading (3-byte UTF-8 head), 'é'-leading (2-byte), ascii, empty —
    // the typed decode and the SQL twin must agree on ALL of them, which
    // pins both to the same first-CODEPOINT basis (a byte-based stub would
    // produce a different width for the first two).
    val docs = Seq(
      (1L, "中文 document text", "synthetic", "zh", 16L),
      (2L, "état des lieux", "synthetic", "fr", 14L),
      (3L, "plain ascii text", "synthetic", "en", 16L),
      (4L, "", "synthetic", "und", 0L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
    val media = TextMediaStub.asMediaTable(docs)
    val viaDs = TextMediaStub.decode(spark, media).toDF()
      .select("doc_id", "byte_len", "header", "width", "height")
    val viaSql = TextMediaStub.decodeSql(media)
      .select("doc_id", "byte_len", "header", "width", "height")
    assertSameRows(viaDs, viaSql)
    // and the zh row really exercises the multibyte path: codepoint of 中
    // is 20013 → width 1 + 20013 % 64 = 46 (first-byte 0xE4 would give 37)
    val zh = TextMediaStub.decode(spark, media).filter(_.doc_id == 1L).head()
    assert(zh.width == 1 + 20013 % 64)
  }

  test("resize really rescales: output dims parse back from the resized bytes") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 15L, 16L, 17L, 40L, 63L, 100L, 777L)
    val media = Multimodal.synthesizeFullPngs(spark, ids.toDF("doc_id"))
    val resized = Multimodal.resize(spark, media, maxDim = 16)
    val got = Multimodal.decodeImages(spark, resized.toDF()).collect()
      .map(f => f.doc_id -> ((f.fmt, f.width, f.height))).toMap
    assert(got.size == ids.size) // every PNG decoded — none quarantined
    for (id <- ids) {
      val w = 1 + (id % 64).toInt
      val h = 1 + (id * 7 % 64).toInt
      val m = math.max(w, h)
      val (tw, th) =
        if (m <= 16) (w, h)
        else (math.max(1, w * 16 / m), math.max(1, h * 16 / m))
      assert(got(id) == (("png", tw, th)), s"doc $id: ${got(id)} != ($tw,$th)")
    }
    // small images pass through untouched dims-wise; big ones shrink
    assert(got(40L)._2 <= 16 && got(40L)._3 <= 16)
    // junk payload → quarantined, not crashed
    val bad = Seq((1L, "not an image".getBytes)).toDF("doc_id", "payload")
    assert(Multimodal.resize(spark, bad, maxDim = 16).collect().isEmpty)
  }

  test("AVI demux recovers every-k-th MJPEG frame from a real RIFF container") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 3L, 7L, 12L) // 1..8 frames each (1 + id % 8)
    val media = Multimodal.synthesizeAvis(spark, ids.toDF("doc_id"))
    val frames = Multimodal.aviFrameSample(spark, media, everyK = 2).collect()
    // count law: kept = ceil(n/2) with n = 1 + id % 8, original indices even
    val byDoc = frames.groupBy(_.doc_id)
    for (id <- ids) {
      val n = 1 + (id % 8).toInt
      assert(byDoc(id).length == (n + 1) / 2, s"doc $id")
      assert(byDoc(id).forall(_.frame_idx % 2 == 0))
    }
    // every emitted slice is a COMPLETE decodable JPEG with the frame dims
    frames.foreach { f =>
      assert(Multimodal.decodeImageHeader(f.payload).contains(("jpeg", 8, 8)))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.payload))
      assert(img != null && img.getWidth == 8 && img.getHeight == 8)
    }
    // the container is literal spec-shaped AVI: fourccs at their offsets,
    // declared RIFF size covering the file exactly, avih's dwTotalFrames
    // matching the frame law
    val p = media.filter($"doc_id" === 3L).collect().head.getAs[Array[Byte]]("payload")
    def tag(i: Int) = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def le32(i: Int) = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
      ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
    assert(tag(0) == "RIFF" && tag(8) == "AVI ")
    assert(tag(12) == "LIST" && tag(20) == "hdrl" && tag(24) == "avih")
    assert(8 + le32(4) == p.length)      // RIFF size covers the file
    assert(le32(24 + 8 + 16) == 4)       // avih dwTotalFrames: 1 + 3 % 8
    assert(p.sliding(4).exists(_.sameElements("MJPG".getBytes))) // strh/strf fourcc
    // malformed tail (idx1 and part of the last frame cut off): well-formed
    // prefix frames still demux (quarantine-style)
    val cut = p.length - (8 + 16 * 4 + 30) // idx1 chunk + 30 bytes of frame 4
    val partial = Seq((3L, java.util.Arrays.copyOfRange(p, 0, cut)))
      .toDF("doc_id", "payload")
    val pf = Multimodal.aviFrameSample(spark, partial, everyK = 1).collect()
    assert(pf.length == 3) // 4 frames, last one truncated away
  }

  test("AVI demux never crashes and never emits a broken frame at ANY cut point") {
    import spark.implicits._
    // sweep truncation across the whole container in 97-byte steps (plus
    // the pathological 0..16 region): whatever survives the cut must be a
    // complete, decodable JPEG — prefix-only, no torn slices, no throw
    val full = Multimodal.synthesizeAvis(spark, Seq(5L).toDF("doc_id"))
      .collect().head.getAs[Array[Byte]]("payload")
    val cuts = (0 to 16) ++ (17 until full.length by 97) :+ full.length
    val media = cuts.map(c =>
      (c.toLong, java.util.Arrays.copyOfRange(full, 0, c))).toDF("doc_id", "payload")
    val frames = Multimodal.aviFrameSample(spark, media, everyK = 1).collect()
    frames.foreach { f =>
      val hdr = Multimodal.decodeImageHeader(f.payload)
      assert(hdr.contains(("jpeg", 8, 8)), s"cut=${f.doc_id} idx=${f.frame_idx}")
    }
    // the uncut container yields all 6 frames (doc 5: 1 + 5 % 8)
    assert(frames.count(_.doc_id == full.length.toLong) == 6)
    // monotone: a longer prefix never yields FEWER frames
    val byCut = frames.groupBy(_.doc_id).view.mapValues(_.length).toMap
    val counts = cuts.map(c => byCut.getOrElse(c.toLong, 0))
    assert(counts.zip(counts.tail).forall { case (a, b) => a <= b },
      s"frame count not monotone in prefix length: $counts")
  }

  test("decodeImageHeader parses real PNG and JPEG bytes, rejects junk") {
    // hand-assembled 5×3 PNG: signature + IHDR(len,tag) + w + h + ihdr tail + crc
    val png = (Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 5, 0, 0, 0, 3,
      8, 6, 0, 0, 0, 0, 0, 0, 0)).map(_.toByte)
    assert(Multimodal.decodeImageHeader(png).contains(("png", 5, 3)))
    // JPEG with a COM segment BEFORE the SOF0 — the marker walk must skip
    // it by declared length, then read h=7, w=9 from the frame header
    val jpeg = (Array(0xff, 0xd8,
      0xff, 0xfe, 0, 4, 1, 2, // COM, length 4 (2 payload bytes)
      0xff, 0xc0, 0, 17, 8, 0, 7, 0, 9, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)).map(_.toByte)
    assert(Multimodal.decodeImageHeader(jpeg).contains(("jpeg", 9, 7)))
    assert(Multimodal.decodeImageHeader("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageHeader(Array[Byte]()).isEmpty)
    // T.81 B.1.1.2 fill bytes: extra 0xFF padding before a marker is legal
    // and must not desync the walk into reading the marker byte as a length
    val padded = (Array(0xff, 0xd8,
      0xff, 0xff, 0xff, 0xc0, 0, 17, 8, 0, 7, 0, 9, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)).map(_.toByte)
    assert(Multimodal.decodeImageHeader(padded).contains(("jpeg", 9, 7)))
    // a restart/TEM standalone marker (no length field) must be stepped over
    val withTem = (Array(0xff, 0xd8, 0xff, 0x01,
      0xff, 0xc0, 0, 17, 8, 0, 5, 0, 6, 3,
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)).map(_.toByte)
    assert(Multimodal.decodeImageHeader(withTem).contains(("jpeg", 6, 5)))
    // EOI before any SOF: dimensions genuinely absent
    assert(Multimodal.decodeImageHeader(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("synthetic payload round-trips through the real header parser") {
    import spark.implicits._
    val docs = Seq(0L, 1L, 2L, 511L, 512L, 513L, 1000L).toDF("doc_id")
    val media = docs.select($"doc_id",
      Multimodal.syntheticImagePayload($"doc_id").as("payload"))
    val got = Multimodal.decodeImages(spark, media).collect()
      .map(f => f.doc_id -> ((f.fmt, f.width, f.height, f.byte_len))).toMap
    assert(got.size == 7) // every payload parsed — none quarantined
    for (id <- Seq(0L, 1L, 2L, 511L, 512L, 513L, 1000L)) {
      val (fmt, w, h, len) = got(id)
      assert(fmt == (if (id % 2 == 0) "png" else "jpeg"))
      assert(w == 1 + id % 512 && h == 1 + (id * 7) % 512)
      assert(len == (if (id % 2 == 0) 33 else 39))
    }
  }

  test("synthetic WAV payload round-trips through the real RIFF parser") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 4L, 5L, 999L, 1000L, 1001L)
    val media = ids.toDF("doc_id").select($"doc_id",
      Multimodal.syntheticWavPayload($"doc_id").as("payload"))
    val got = Multimodal.decodeAudio(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(got.size == ids.size) // every payload parsed — none quarantined
    for (id <- ids) {
      val f = got(id)
      val ch = (1 + id % 2).toInt
      val rate = ((1 + id % 5) * 8000).toInt
      val data = (id % 1000 + 1) * ch * 2 * 16
      assert(f.sample_rate == rate && f.n_channels == ch && f.bits == 16, f.toString)
      assert(f.data_bytes == data)
      assert(f.duration_ms == data * 1000L / (rate.toLong * ch * 2))
    }
    // corrupted signature → quarantined, not crashed
    val bad = Seq((1L, "definitely not RIFF bytes".getBytes)).toDF("doc_id", "payload")
    assert(Multimodal.decodeAudio(spark, bad).collect().isEmpty)
    // structurally valid header with a sub-byte bits field (4-bit) →
    // quarantined too (a zero byte rate must not crash duration math)
    val wav = media.limit(1).select("payload").collect().head.getAs[Array[Byte]](0).clone()
    wav(34) = 4
    assert(Multimodal.decodeWavHeader(wav).isEmpty)
  }

  test("media table carries binary payload + typed metadata struct") {
    val media = TextMediaStub.asMediaTable(Tables.documents(spark, sf0001).limit(1))
    val schema = media.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
  }

  test("audioFrameFeatures: byte decode matches an independent JVM replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001).limit(40).select(col("doc_id"))
    val media = docs.select(col("doc_id"),
      Multimodal.syntheticWavWithSamples(col("doc_id")).as("payload"))
    val got = Multimodal.audioFrameFeatures(spark, media).collect()
      .map(r => r.doc_id -> r).toMap
    // independent reimplementation straight from the documented formula
    def sample(id: Long, k: Int): Int =
      ((((id * 31 + k * 17) % 201) - 100) * 64).toInt
    docs.collect().map(_.getLong(0)).foreach { id =>
      val n = (64 * (1 + id % 4)).toInt
      val frames = (1 + id % 4).toInt
      val micro = (0 until frames).map { f =>
        val acc = (f * 64 until (f + 1) * 64)
          .map(k => sample(id, k).toLong).map(v => v * v).sum
        math.floor(math.sqrt(acc.toDouble / 64) * 1e6 + 0.5).toLong
      }.sum
      val zc = (1 until n).count(k =>
        sample(id, k - 1).toLong * sample(id, k) < 0)
      val r = got(id)
      assert(r.n_samples == n && r.n_frames == frames, s"doc $id: $r")
      assert(r.mean_rms == math.floor(micro.toDouble / frames + 0.5) / 1e6)
      assert(r.zcr == math.floor(zc.toDouble / (n - 1) * 1e6 + 0.5) / 1e6)
      assert(r.peak_abs == (0 until n).map(k => math.abs(sample(id, k))).max)
    }
  }

  test("audioFrameFeatures quarantines non-mono and truncated payloads") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // stereo header from the mm3 synthesizer (channels = 1 + id%2 -> odd
    // ids are stereo, and that fixture carries no sample bytes at all)
    val bad = Seq(1L, 3L).toDF("doc_id").select(col("doc_id"),
      Multimodal.syntheticWavPayload(col("doc_id")).as("payload"))
    assert(Multimodal.audioFrameFeatures(spark, bad).count() == 0)
  }
}
