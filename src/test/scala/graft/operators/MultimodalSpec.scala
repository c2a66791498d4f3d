package graft.operators

import graft.SparkSpec

/** M-series multimodal: binary payloads, typed metadata, REAL JDK ImageIO
  * decode + Graphics2D resize, byte-level features for opaque payloads,
  * frame sampling shape.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "abc"), (2L, ""), (3L, "hello world!")).toDF("doc_id", "text")

  test("asMedia: payload bytes + metadata struct") {
    val m = Multimodal.asMedia(docs, "doc_id", "text").orderBy("media_id").collect()
    assert(m(0).getAs[Array[Byte]]("payload").toSeq == "abc".getBytes("UTF-8").toSeq)
    val meta = m(0).getStruct(2)
    assert(meta.getString(0) == "text/plain" && meta.getLong(3) == 3L)
  }

  test("decodeFeatures: head hex + byte mean via mapPartitions") {
    val f = Multimodal.decodeFeatures(Multimodal.asMedia(docs, "doc_id", "text"))
      .orderBy("media_id").select("features.*").collect()
    assert(f(0).getString(1) == "616263") // 'abc'
    assert(math.abs(f(0).getDouble(2) - (97 + 98 + 99) / 3.0) < 1e-9)
    assert(f(1).getLong(0) == 0L && f(1).getString(1) == "" && f(1).getDouble(2) == 0.0)
  }

  test("sampleFrames: fixed windows, at least one frame per payload") {
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(docs, "doc_id", "text"), frameBytes = 4, stride = 1)
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(3L) == 3L) // 12 bytes / 4 = 3 windows
    val first = frames.filter($"media_id" === 3L && $"frame_idx" === 0)
      .select("frame").as[Array[Byte]].head()
    assert(new String(first, "UTF-8") == "hell")
  }

  test("decodeImage: real ImageIO roundtrip — dims, bands, exact channel means") {
    val png = Multimodal.encodePng(5, 3, 10, 20, 30)
    // PNG magic number: a real encoder ran, not a fake
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val Some((w, h, bands, mr, mg, mb)) = Multimodal.decodeImage(png)
    assert(w == 5 && h == 3 && bands == 3)
    assert(mr == 10.0 && mg == 20.0 && mb == 30.0) // solid color: means exact
    assert(Multimodal.decodeImage("not a png".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
  }

  test("decodeImages: img struct for decodable payloads, null for opaque ones") {
    import org.apache.spark.sql.functions._
    val media = Multimodal.asMedia(docs, "doc_id", "text")
      .withColumn("payload", when($"media_id" === 3L,
        lit(Multimodal.encodePng(4, 2, 100, 150, 200))).otherwise($"payload"))
    val out = Multimodal.decodeImages(media).orderBy("media_id").collect()
    assert(out.find(_.getLong(0) == 1L).get.isNullAt(3)) // text bytes: no codec
    val img = out.find(_.getLong(0) == 3L).get.getStruct(3)
    assert(img.getInt(0) == 4 && img.getInt(1) == 2 && img.getInt(2) == 3)
    assert(img.getDouble(3) == 100.0 && img.getDouble(4) == 150.0 && img.getDouble(5) == 200.0)
  }

  test("fitDims: aspect-preserving, never upscales, floors to >= 1") {
    assert(Multimodal.fitDims(640, 480, 320) == ((320, 240)))
    assert(Multimodal.fitDims(480, 640, 320) == ((240, 320)))
    assert(Multimodal.fitDims(100, 50, 320) == ((100, 50)))   // no upscale
    assert(Multimodal.fitDims(1000, 1, 10) == ((10, 1)))      // floor >= 1
    assert(Multimodal.fitDims(1, 1000, 10) == ((1, 10)))
  }

  test("resizeImages: real Graphics2D resample, passthrough for non-images") {
    import org.apache.spark.sql.functions._
    val media = Multimodal.asMedia(docs, "doc_id", "text")
      .withColumn("payload", when($"media_id" === 3L,
        lit(Multimodal.encodePng(640, 480, 60, 70, 80))).otherwise($"payload"))
      .withColumn("meta", when($"media_id" === 3L,
        struct(lit("image/png").as("media_type"), lit(640).as("width"),
          lit(480).as("height"), $"meta.n_bytes".as("n_bytes")))
        .otherwise($"meta"))
    val out = Multimodal.resizeImages(media, maxDim = 320).orderBy("media_id").collect()
    val img = out.find(_.getLong(0) == 3L).get
    assert(img.getAs[Boolean]("resized"))
    val meta = img.getStruct(2)
    assert(meta.getInt(1) == 320 && meta.getInt(2) == 240)
    // decode the RE-ENCODED payload: dims and solid color survive the resample
    val Some((w, h, _, mr, mg, mb)) =
      Multimodal.decodeImage(img.getAs[Array[Byte]]("payload"))
    assert(w == 320 && h == 240)
    assert(mr == 60.0 && mg == 70.0 && mb == 80.0)
    val txt = out.find(_.getLong(0) == 1L).get // text media: untouched
    assert(!txt.getAs[Boolean]("resized"))
    assert(new String(txt.getAs[Array[Byte]]("payload"), "UTF-8") == "abc")
  }

  test("resizeImages: already-small image and undecodable image both pass through") {
    import org.apache.spark.sql.functions._
    val small = Multimodal.encodePng(30, 20, 1, 2, 3)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
      .filter($"media_id" =!= 2L)
      .withColumn("payload", when($"media_id" === 3L, lit(small)).otherwise($"payload"))
      .withColumn("meta",
        struct(lit("image/png").as("media_type"), lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"), $"meta.n_bytes".as("n_bytes")))
    val out = Multimodal.resizeImages(media, maxDim = 320).orderBy("media_id").collect()
    val ok = out.find(_.getLong(0) == 3L).get
    assert(!ok.getAs[Boolean]("resized")) // fits already: payload untouched
    assert(ok.getAs[Array[Byte]]("payload").toSeq == small.toSeq)
    val bad = out.find(_.getLong(0) == 1L).get // claims image/png, bytes aren't
    assert(!bad.getAs[Boolean]("resized"))
    assert(new String(bad.getAs[Array[Byte]]("payload"), "UTF-8") == "abc")
  }

  test("syntheticImages: deterministic arithmetic dims/colors, executor-side generation") {
    val media = Multimodal.syntheticImages(docs.select("doc_id"), "doc_id")
      .orderBy("media_id").collect()
    val m3 = media.find(_.getLong(0) == 3L).get
    val meta = m3.getStruct(2)
    assert(meta.getString(0) == "image/png")
    assert(meta.getInt(1) == 16 + 3 % 17 && meta.getInt(2) == 16 + 3 % 23)
    val Some((w, h, _, mr, mg, mb)) =
      Multimodal.decodeImage(m3.getAs[Array[Byte]]("payload"))
    assert(w == 19 && h == 19)
    assert(mr == 3.0 && mg == 21.0 && mb == 39.0)
  }

  /** Driver-side closed-form dHash of the synthetic grid — the same
    * comparisons the oracle SQL states, computed independently of the
    * image/codec path.
    */
  private def expectedDHash(id: Long): Long = {
    var sig = 0L
    for (by <- 0 until 8; bx <- 0 until 8)
      if (Multimodal.gridValue(id, bx, by) > Multimodal.gridValue(id, bx + 1, by))
        sig |= 1L << (by * 8 + bx)
    sig
  }

  test("dHash64 recovers the closed-form signature through a REAL PNG decode") {
    // block-constant gray: any luma weighting of r=g=b=v is v and the block
    // mean of a constant is the constant, so the decoded signature must
    // equal the grid arithmetic BIT FOR BIT — a wrong block boundary, luma
    // formula, or bit order all fail here. blockPx=1 and 3 exercise both
    // the trivial and the averaging grid paths.
    val ids = (0L to 19L).toDF("doc_id")
    for (blockPx <- Seq(1, 3)) {
      val sigs = Multimodal.dHashSigs(
          Multimodal.syntheticGridImages(ids, "doc_id", blockPx))
        .as[(Long, Long)].collect().toMap
      assert(sigs.size == 20)
      for ((id, sig) <- sigs) assert(sig == expectedDHash(id), s"id=$id blockPx=$blockPx")
    }
  }

  test("dHash64: undecodable and undersized payloads yield no signature") {
    assert(Multimodal.dHash64("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.dHash64(Array.emptyByteArray).isEmpty)
    // 8x8 is one column short of the 9x8 grid
    assert(Multimodal.dHash64(Multimodal.encodePng(8, 8, 10, 20, 30)).isEmpty)
    assert(Multimodal.dHash64(Multimodal.encodePng(9, 8, 10, 20, 30)).isDefined)
  }

  test("image near-dup banding is COMPLETE and EXACT over the grid corpus") {
    // property (m4): banded pairs == brute-force Hamming <= 3 pairs over
    // the same signatures. Groups of four ids share a base pattern with
    // <= 3 perturbed comparisons, so in-group pairs all qualify: 6 per
    // group is the floor.
    val ids = (0L to 79L).toDF("doc_id")
    val sigs = Multimodal.dHashSigs(
      Multimodal.syntheticGridImages(ids, "doc_id")).localCheckpoint()
    val got = Dedup.simhashPairsFromSigs(sigs, "media_id", "dhash", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val expect = (for {
      a <- 0L to 79L; b <- 0L to 79L if a < b
      h = java.lang.Long.bitCount(expectedDHash(a) ^ expectedDHash(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    assert(got.size >= 20 * 6, s"expected at least 6 pairs per group, got ${got.size}")
  }

  test("c11 cross-modal pairing: image-id hand-off verified against brute-force truth") {
    // the c11 lane assigns media_id = 2*doc_id + 13 and translates image
    // near-dup pairs back to caption space through the pairing relation.
    // Truth here is INDEPENDENT: brute-force Hamming <= 3 over closed-form
    // signatures of the ASSIGNED ids, mapped back arithmetically — a botched
    // hand-off join (wrong key, wrong inverse, dropped rows) fails exactly.
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("c11_crossmodal_pairing")(spark, dir)
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    val docIds = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").as[Long].collect().toSeq.sorted
    val expectImg = (for {
      a <- docIds; b <- docIds if a < b
      h = java.lang.Long.bitCount(
        expectedDHash(2 * a + 13) ^ expectedDHash(2 * b + 13)) if h <= 3
    } yield (a, b)).toSet
    val gotImg = out.filter(_._3).map(r => (r._1, r._2)).toSet
    assert(gotImg == expectImg,
      s"missing=${(expectImg -- gotImg).take(5)} extra=${(gotImg -- expectImg).take(5)}")
    assert(expectImg.nonEmpty, "corpus must produce image near-dups for the test to bite")
    // the text flag must restate the text near-dup operator's pair set
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expectTxt = Dedup.minhashLshPortable(docs, "doc_id", "text",
        numPerms = 16, bands = 8, threshold = 0.05)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out.filter(_._4).map(r => (r._1, r._2)).toSet == expectTxt)
    // verdict-merge hygiene: no vacuous rows, canonical orientation, no dups
    assert(out.forall(r => r._3 || r._4))
    assert(out.forall(r => r._1 < r._2))
    assert(out.map(r => (r._1, r._2)).distinct.size == out.size)
  }

  test("chunkPayload: overlapping windows, truncated tail, empty payloads skipped") {
    // media 3: "hello world!" (12 bytes), chunk 6 / hop 4 -> offsets 0,4,8
    val chunks = Multimodal.chunkPayload(
      Multimodal.asMedia(docs, "doc_id", "text"), chunkBytes = 6, hopBytes = 4)
      .orderBy("media_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        new String(r.getAs[Array[Byte]]("chunk"), "UTF-8"), r.getLong(3)))
    val m3 = chunks.filter(_._1 == 3L).toSeq
    assert(m3 == Seq((3L, 0L, "hello ", 6L), (3L, 1L, "o worl", 6L), (3L, 2L, "rld!", 4L)))
    assert(!chunks.exists(_._1 == 2L)) // doc 2 is the empty payload
  }

  private def expectedASig(id: Long): Long = {
    var sig = 0L
    for (j <- 0 until 64)
      if (Multimodal.toneValue(id, j) > Multimodal.toneValue(id, j + 1))
        sig |= 1L << j
    sig
  }

  test("audioSig64 recovers the closed-form signature through a REAL byte decode") {
    // frame-constant amplitude: frame energy = frameLen·v² and v >= 0, so
    // the energy order IS the value order — the decoded signature must
    // equal the tone arithmetic bit for bit (a byte-order, framing, or
    // bit-index bug all fail here); frameLen 8 and 3 exercise two grids
    for (frameLen <- Seq(8, 3)) {
      val ids = (0L to 19L).toDF("doc_id")
      val sigs = Multimodal.audioSigs(
          Multimodal.syntheticPcmTones(ids, "doc_id", frameLen = frameLen),
          frameLen = frameLen)
        .as[(Long, Long)].collect().toMap
      assert(sigs.size == 20)
      for ((id, sig) <- sigs) assert(sig == expectedASig(id), s"id=$id frameLen=$frameLen")
    }
  }

  test("decode family degrades on null payloads instead of throwing") {
    // one contract across all modalities: absent media = absent/zero
    // output, never an executor NPE (real sources have nullable payloads)
    val nullMedia = Seq((1L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    assert(Multimodal.byteStats(null) == ((0L, "", 0.0)))
    assert(Multimodal.dHash64(null).isEmpty)
    assert(Multimodal.audioSig64(null).isEmpty)
    assert(Multimodal.dHashSigs(nullMedia).isEmpty)
    assert(Multimodal.audioSigs(nullMedia).isEmpty)
    assert(Multimodal.sceneCuts(nullMedia).isEmpty)
    val a = Multimodal.decodePcmFeatures(nullMedia).collect()(0).getStruct(1)
    assert(a.getLong(0) == 0L && a.getLong(2) == 0L)
  }

  test("audioSig64: undersized payloads yield no signature; trailing samples ignored") {
    assert(Multimodal.audioSig64(Array.emptyByteArray).isEmpty)
    // 65*8 samples needed at the defaults; one frame short -> None
    assert(Multimodal.audioSig64(new Array[Byte](64 * 8 * 2)).isEmpty)
    assert(Multimodal.audioSig64(new Array[Byte](65 * 8 * 2)).isDefined)
    // extra trailing samples change nothing
    val base = Multimodal.syntheticPcmTones(Seq(5L).toDF("doc_id"), "doc_id")
      .collect()(0).getAs[Array[Byte]]("payload")
    assert(Multimodal.audioSig64(base ++ Array[Byte](1, 2, 3, 4))
      == Multimodal.audioSig64(base))
  }

  test("audio near-dup banding is COMPLETE and EXACT over the tone corpus") {
    // property (m6): banded pairs == brute-force Hamming <= 3 pairs over
    // the same signatures; in-group perturbation touches frames {0,1,2}
    // only, so every in-group pair qualifies: 6 per group is the floor
    val ids = (0L to 79L).toDF("doc_id")
    val sigs = Multimodal.audioSigs(
      Multimodal.syntheticPcmTones(ids, "doc_id")).localCheckpoint()
    val got = Dedup.simhashPairsFromSigs(sigs, "media_id", "asig", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val expect = (for {
      a <- 0L to 79L; b <- 0L to 79L if a < b
      h = java.lang.Long.bitCount(expectedASig(a) ^ expectedASig(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    assert(got.size >= 20 * 6, s"expected at least 6 pairs per group, got ${got.size}")
  }

  test("sceneCuts: hand-built frames cut exactly where the mean jumps past threshold") {
    // 2x2 frames with means 10, 10, 13, 13, 5 -> cuts at f=2 (|13-10|=3)
    // and f=4 (|5-13|=8); threshold=2 keeps both, threshold=5 only f=4
    val means = Seq(10, 10, 13, 13, 5)
    val bytes = means.flatMap(v => Seq.fill(4)(v.toByte)).toArray
    val media = Seq((3L, bytes)).toDF("media_id", "payload")
    val t2 = Multimodal.sceneCuts(media, w = 2, h = 2, threshold = 2)
      .orderBy("frame_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(t2 == Seq((2L, 10L, 13L), (4L, 13L, 5L)))
    val t5 = Multimodal.sceneCuts(media, w = 2, h = 2, threshold = 5)
      .collect().map(_.getLong(1)).toSeq
    assert(t5 == Seq(4L))
    // trailing partial frame ignored: 2 extra bytes change nothing
    val t2b = Multimodal.sceneCuts(Seq((3L, bytes ++ Array[Byte](99, 99)))
        .toDF("media_id", "payload"), w = 2, h = 2, threshold = 2)
      .collect().map(_.getLong(1)).toSeq
    assert(t2b == Seq(2L, 4L))
  }

  test("sceneCuts recovers the closed-form scene boundaries through a REAL byte decode") {
    // frame-constant pixels: integer frame mean == scene value, so cuts
    // must be exactly the f>0 multiples of sceneLen where the md5 scene
    // value changes
    val ids = (0L to 19L).toDF("doc_id")
    val got = Multimodal.sceneCuts(Multimodal.syntheticVideo(ids, "doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expect = (for {
      id <- 0L to 19L; f <- 1 until 24
      p = Multimodal.sceneValue(id, (f - 1) / 6)
      c = Multimodal.sceneValue(id, f / 6)
      if p != c
    } yield (id, f.toLong, p.toLong, c.toLong)).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    // non-degenerate: nearly every clip has its 3 scene boundaries
    assert(got.size >= 20 * 3 - 2, s"suspiciously few cuts: ${got.size}")
  }

  test("PCM decode: hand-built s16le bytes round-trip to exact features") {
    // samples 5, -3, 0, -1: sum_sq = 25+9+0+1 = 35; zero crossings at
    // 5→-3 and -3→0 and 0→-1 (sign = v<0): 3 flips; frameLen 2 → frames
    // [5,-3] ssq 34 and [0,-1] ssq 1 → max 34
    val vals = Seq(5, -3, 0, -1)
    val bytes = vals.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    val media = Seq((7L, bytes)).toDF("media_id", "payload")
    val out = Multimodal.decodePcmFeatures(media, frameLen = 2).collect()
    assert(out.length == 1)
    val a = out(0).getStruct(1)
    assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4))
      == ((4L, 2L, 35L, 3L, 34L)))
  }

  test("PCM decode: trailing partial frame excluded from frames, included in totals") {
    // 5 samples, frameLen 2 → 2 full frames; the 5th sample (value 100)
    // counts in sum_sq but no frame energy
    val vals = Seq(1, 1, 1, 1, 100)
    val bytes = vals.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    val media = Seq((1L, bytes)).toDF("media_id", "payload")
    val a = Multimodal.decodePcmFeatures(media, frameLen = 2).collect()(0).getStruct(1)
    assert(a.getLong(0) == 5L && a.getLong(1) == 2L)
    assert(a.getLong(2) == 4L + 10000L && a.getLong(4) == 2L)
  }

  test("syntheticPcm serializes the pcmSample lattice as true little-endian") {
    val media = Multimodal.syntheticPcm(Seq(42L).toDF("doc_id"), "doc_id").collect()(0)
    val bytes = media.getAs[Array[Byte]]("payload")
    val n = (800 + 42 % 257).toInt
    assert(bytes.length == n * 2)
    (0 until n).foreach { i =>
      val v = (bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)
      assert(v == Multimodal.pcmSample(42L, i), s"sample $i")
    }
    // full-swing: the lattice hits negative and positive values
    val decoded = (0 until n).map(i => Multimodal.pcmSample(42L, i))
    assert(decoded.min < -16000 && decoded.max > 16000)
  }

  test("the image codec leaves ImageIO's JVM-global stream cache setting alone") {
    // ImageIO.getUseCache is process-wide: every ImageIO user in the JVM
    // (driver and executors alike) sees it. Its JDK default is true, and
    // nothing in the engine may flip it.
    val before = javax.imageio.ImageIO.getUseCache
    val png = Multimodal.encodePng(5, 3, 10, 20, 30)
    assert(Multimodal.decodeImage(png).map(d => (d._1, d._2)).contains((5, 3)))
    assert(Multimodal.decodeImages(Seq((1L, png)).toDF("id", "payload"))
      .collect().length == 1)
    assert(javax.imageio.ImageIO.getUseCache == before)
    assert(before, "ImageIO's stream cache was switched off in this JVM")
  }
}
