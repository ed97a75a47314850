package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.queries.Queries
import graft.streaming.EventStreams

/** Multimodal plumbing + streaming/batch parity specs. */
class MultimodalStreamingSpec extends SparkSuite {
  import spark.implicits._

  test("multimodal: batched decode preserves ids, emits fixed-dim features") {
    val media = Multimodal.syntheticMedia(spark, 200)
    val feats = Multimodal.decodeFeatures(media, batchSize = 16, partitions = Some(4))
    val rows = feats.collect()
    assert(rows.length === 200)
    assert(rows.forall(_.feature.length === Multimodal.FeatureDim))
    assert(rows.map(_.media_id).sorted.toSeq === (0L until 200L))
    // deterministic: same input → same features
    val again = Multimodal.decodeFeatures(media, batchSize = 64).collect()
    val a = rows.sortBy(_.media_id).map(_.feature.toSeq)
    val b = again.sortBy(_.media_id).map(_.feature.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("multimodal: real PNG payload decodes to pixel statistics via ImageIO") {
    // 32x16, left half pure black, right half pure white
    val img = new java.awt.image.BufferedImage(32, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, Map.empty),
      // non-image payload keeps the declared stub path
      Multimodal.MediaRecord(2L, "audio", Array[Byte](1, 2, 3), Map.empty))
      .toDS()
    val feats = Multimodal.decodeFeatures(media, batchSize = 2).collect()
      .map(f => f.media_id -> f).toMap
    val f = feats(1L).feature
    assert(f(0) === 32.0f && f(1) === 16.0f && f(2) === 2.0f, "dims + aspect")
    assert(f(3) === 0.5f && f(4) === 0.5f && f(5) === 0.5f, "mean RGB = 0.5")
    assert(math.abs(f(6) - 0.5f) < 1e-6, "mean luma")
    assert(math.abs(f(7) - 0.5f) < 1e-6, "luma stddev of a half/half image")
    assert(f(8) === 0.5f && f(15) === 0.5f, "luma histogram: extremes only")
    assert((9 to 14).forall(i => f(i) === 0.0f))
    assert(feats(1L).n_bytes === png.length.toLong)
    // corrupt image payload falls back to the stub instead of failing
    val broken = Seq(Multimodal.MediaRecord(3L, "image",
      Array[Byte](9, 9, 9, 9), Map.empty)).toDS()
    assert(Multimodal.decodeFeatures(broken).collect().length === 1)
  }

  test("multimodal: aHash closed form, edit tolerance, near-dup pairs") {
    def png(w: Int, h: Int)(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // closed form: left half black, right half white, 64x64 -> cells
    // 0-3 of each row black (below mean), 4-7 white (above) -> the hash
    // sets exactly the bits with cx >= 4
    val half = png(64, 64)((x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    val expected = (for (cy <- 0 until 8; cx <- 4 until 8)
      yield 1L << (cy * 8 + cx)).reduce(_ | _)
    assert(Multimodal.imageAHash(half).get === expected)

    // a small local edit keeps the hash within the near-dup budget
    val edited = png(64, 64)((x, y) =>
      if (x < 2 && y < 2) 0x808080 else if (x < 32) 0x000000 else 0xFFFFFF)
    val hamEdit = java.lang.Long.bitCount(
      Multimodal.imageAHash(half).get ^ Multimodal.imageAHash(edited).get)
    assert(hamEdit <= 3, s"2x2-pixel edit moved $hamEdit bits")
    // a structurally different image is far away
    val checker = png(64, 64)((x, y) =>
      if ((x / 8 + y / 8) % 2 == 0) 0x000000 else 0xFFFFFF)
    val hamFar = java.lang.Long.bitCount(
      Multimodal.imageAHash(half).get ^ Multimodal.imageAHash(checker).get)
    assert(hamFar > 10, s"checkerboard only $hamFar bits from half/half")

    // end to end: hashes + banded Hamming pairs find the near-dup, skip
    // the far pair; undecodable payloads drop out
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", half, Map.empty),
      Multimodal.MediaRecord(2L, "image", edited, Map.empty),
      Multimodal.MediaRecord(3L, "image", checker, Map.empty),
      Multimodal.MediaRecord(4L, "image", Array[Byte](1, 2, 3), Map.empty),
      Multimodal.MediaRecord(5L, "audio", half, Map.empty)).toDS()
    val hashes = Multimodal.imageHashes(media)
    assert(hashes.count() === 3, "3 decodable images hash")
    val pairs = Multimodal.imageNearDupPairs(hashes, maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)),
      s"expected exactly the planted near-dup pair, got ${pairs.toSeq}")
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(hashes, maxBits = 4)
    }
  }

  test("multimodal: media_hash_pairs contract semantics (planted masks)") {
    // the contract entry plants neighbors at EXACTLY 1/2/3 flipped bits
    // cycling on doc_id % 3 and a band1-flip reject plant at Hamming 16 —
    // the output must be exactly the 20 (id, id+1M) pairs with the mask's
    // popcount, and NO +2M (reject) id may survive the popcount filter
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.PipelineQueries.mediaHashPairsQ(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 20, s"expected the 20 planted pairs: ${got.length}")
    got.foreach { case (a, b, ham) =>
      assert(b === a + 1000000L, s"pair ($a,$b) is not a near plant")
      assert(ham === (a % 3 match { case 0 => 1L; case 1 => 2L; case _ => 3L }),
        s"doc $a: hamming $ham does not match its planted mask")
    }
    assert(!got.exists(p => p._1 >= 2000000L || p._2 >= 2000000L),
      "a Hamming-16 reject plant leaked through the popcount filter")
  }

  test("multimodal: video majority fingerprint over MJPEG frames") {
    def jpg(invert: Boolean, noise: Int = 0): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val base = if ((x < 32) != invert) 0x101010 else 0xF0F0F0
        val v = if (noise > 0 && x < 2 && y < 2) 0x808080 else base
        img.setRGB(x, y, v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val a = jpg(invert = false)
    val b = jpg(invert = true)
    def cat(frames: Array[Byte]*): Array[Byte] = frames.reduce(_ ++ _)
    // majority of {A, A, B} is exactly A's frame hash, whatever B says
    val vid = cat(a, a, b)
    assert(Multimodal.videoAHash(vid).get ===
      Multimodal.imageAHash(a).get)
    // a mildly edited copy stays a near-dup; the inverted cut is far
    val vidEdit = cat(jpg(invert = false, noise = 1),
      jpg(invert = false, noise = 1), b)
    val vidFar = cat(b, b, a)
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", vid, Map.empty),
      Multimodal.MediaRecord(2L, "video", vidEdit, Map.empty),
      Multimodal.MediaRecord(3L, "video", vidFar, Map.empty)).toDS()
    val hashes = Multimodal.videoHashes(media)
    assert(hashes.count() === 3)
    val pairs = Multimodal.imageNearDupPairs(hashes, maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)), s"got ${pairs.toSeq}")
    assert(Multimodal.videoAHash(Array[Byte](0, 1, 2, 3)).isEmpty)
  }

  test("multimodal: audio energy fingerprint closed form and near-dups") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        data(2 * i) = (samples(i) & 0xFF).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    // 640 samples = 10 per window: silent first half, loud second half
    // -> exactly bits 32..63 set
    val base = Array.tabulate[Short](640)(i => if (i < 320) 0 else 8192)
    val expected = (32 until 64).map(1L << _).reduce(_ | _)
    assert(Multimodal.audioAHash(wav(base)).get === expected)
    // a small local perturbation (one window gains mild noise) moves few bits
    val edited = base.clone(); for (i <- 0 until 10) edited(i) = 512
    val hamEdit = java.lang.Long.bitCount(
      Multimodal.audioAHash(wav(base)).get ^
        Multimodal.audioAHash(wav(edited)).get)
    assert(hamEdit <= 3, s"one-window perturbation moved $hamEdit bits")
    // alternating energy pattern is structurally far
    val alt = Array.tabulate[Short](640)(i =>
      if ((i / 10) % 2 == 0) 0 else 8192)
    val hamFar = java.lang.Long.bitCount(
      Multimodal.audioAHash(wav(base)).get ^
        Multimodal.audioAHash(wav(alt)).get)
    assert(hamFar > 10, s"alternating pattern only $hamFar bits away")
    // end to end via audioHashes + the generic banded pair finder
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wav(base), Map.empty),
      Multimodal.MediaRecord(2L, "audio", wav(edited), Map.empty),
      Multimodal.MediaRecord(3L, "audio", wav(alt), Map.empty),
      Multimodal.MediaRecord(4L, "audio", Array[Byte](7, 7), Map.empty)).toDS()
    val hashes = Multimodal.audioHashes(media)
    assert(hashes.count() === 3)
    val pairs = Multimodal.imageNearDupPairs(hashes, maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)), s"got ${pairs.toSeq}")
    // sub-64-sample payloads cannot fill the contour -> None
    assert(Multimodal.audioAHash(wav(Array.fill[Short](32)(100))).isEmpty)
  }

  test("multimodal: planted <=3-bit near-dups are recalled over stripe-pattern corpora, " +
      "image, audio and video") {
    // id i renders a 16-cell stripe key ((i * 2654435761) bit c, repeated
    // 4x over the 64 cells / windows); plant i + 1M carries a <=3-bit edit
    // of base i. A plant's edit also nudges the global mean, so a pattern
    // with cells on the mean can flip an extra bit: the tolerance is one
    // miss per modality (1/2000 images, 0/1000 clips and 1/400 videos missed
    // at scale: BASELINE.md rounds 11 and 12)
    def stripes(id: Long, edit: (Int, Int) => Option[Int], format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val key = id * 2654435761L
      for (y <- 0 until 64; x <- 0 until 64) {
        val cell = (x / 8 + 8 * (y / 8)) % 16
        val base = if (((key >> cell) & 1L) == 1L) 0x101010 else 0xF0F0F0
        img.setRGB(x, y, edit(x, y).getOrElse(base))
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, baos)
      baos.toByteArray
    }
    def blemish(x: Int, y: Int) = if (x < 2 && y < 2) Some(0x808080) else None
    // audio: 64 windows of 100 samples, window w loud iff key bit (w mod 16);
    // a plant inverts the first 1-3 windows
    def wav(id: Long, flips: Int): Array[Byte] = {
      val key = id * 2654435761L
      val data = new Array[Byte](6400 * 2)
      for (i <- 0 until 6400) {
        val w = i / 100
        val loud = (((key >> (w % 16)) & 1L) == 1L) != (w < flips)
        val v = ((if ((i & 1) == 0) 1 else -1) * (if (loud) 0.8 else 0.1) * 32000.0).toInt
        data(2 * i) = (v & 0xFF).toByte
        data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, 6400L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    // video: 6 JPEG frames; a plant blemishes every frame, and frame 3 also
    // carries a heavy edit that the majority vote must outvote
    def mjpeg(id: Long, plant: Boolean): Array[Byte] = (0 until 6).map { f =>
      stripes(id, (x, y) =>
        if (plant && f == 3 && x >= 32) Some(0x808080)
        else if (plant) blemish(x, y) else None, "jpg")
    }.reduce(_ ++ _)
    type Hasher = org.apache.spark.sql.Dataset[Multimodal.MediaRecord] => org.apache.spark.sql.DataFrame
    def recall(kind: String, nBase: Int, nPlant: Int, hash: Hasher)(
        payload: (Long, Boolean) => Array[Byte]): Unit = {
      def rec(id: Long, base: Long, plant: Boolean) =
        Multimodal.MediaRecord(id, kind, payload(base, plant), Map.empty)
      val media = ((0 until nBase).map(i => rec(i, i, plant = false)) ++
        (0 until nPlant).map(i => rec(1000000L + i, i, plant = true))).toDS()
      val hashes = hash(media).cache()
      assert(hashes.count() === nBase + nPlant, s"every $kind payload must hash")
      val planted = Multimodal.imageNearDupPairs(hashes, maxBits = 3)
        .where(col("id_b") === col("id_a") + 1000000L).count()
      hashes.unpersist()
      assert(planted >= nPlant - 1, s"$kind planted recall $planted/$nPlant")
    }
    recall("image", 400, 40, Multimodal.imageHashes(_))((id, plant) =>
      stripes(id, (x, y) => if (plant) blemish(x, y) else None, "png"))
    recall("audio", 200, 30, Multimodal.audioHashes(_))((id, plant) =>
      wav(id, if (plant) 1 + (id % 3).toInt else 0))
    recall("video", 80, 8, Multimodal.videoHashes(_))(mjpeg)
  }

  test("multimodal: real WAV payload decodes to exact waveform statistics") {
    // 800 samples @ 8 kHz mono 16-bit LE: +8192 for 400 samples, then -8192
    // — every statistic has an exact closed form (8192/32768 = 0.25 exactly)
    val nSamples = 800
    val data = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v: Short = if (i < 400) 8192 else -8192
      data(2 * i) = (v & 0xFF).toByte
      data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val media = Seq(Multimodal.MediaRecord(10L, "audio", wav, Map.empty)).toDS()
    val f = Multimodal.decodeFeatures(media, batchSize = 4).collect().head.feature
    assert(f(0) === 8000f, "sample rate")
    assert(f(1) === 1f, "channels")
    assert(f(2) === 0.1f, "duration: 800/8000 s")
    assert(f(3) === 0.25f, "RMS of a ±0.25 square wave")
    assert(f(4) === 0.25f, "peak")
    assert(f(5) === (1.0 / 799).toFloat, "exactly one sign crossing")
    assert(f(6) === 0.0f, "zero DC offset")
    assert(f(7) === 0.25f, "stddev")
    assert(f(10) === 1.0f, "all |samples| land in histogram bin 2 (0.25*8)")
    assert((8 to 15).filter(_ != 10).forall(i => f(i) === 0.0f))

    // stereo: L=+8192, R=-8192 average to silence
    val st = new Array[Byte](nSamples * 4)
    for (i <- 0 until nSamples; c <- 0 to 1) {
      val v: Short = if (c == 0) 8192 else -8192
      st(4 * i + 2 * c) = (v & 0xFF).toByte
      st(4 * i + 2 * c + 1) = ((v >> 8) & 0xFF).toByte
    }
    val sfmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val sais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(st), sfmt, nSamples.toLong)
    val sb = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(sais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, sb)
    val sf2 = Multimodal.decodeFeatures(
        Seq(Multimodal.MediaRecord(11L, "audio", sb.toByteArray, Map.empty)).toDS())
      .collect().head.feature
    assert(sf2(1) === 2f && sf2(3) === 0.0f && sf2(4) === 0.0f,
      "stereo channels average to mono silence")

    // non-WAV audio payload falls back to the deterministic stub
    val junk = Seq(Multimodal.MediaRecord(12L, "audio",
      Array[Byte](1, 2, 3, 4), Map.empty)).toDS()
    assert(Multimodal.decodeFeatures(junk).collect().length === 1)
  }

  test("multimodal: real MJPEG payload decodes per-frame, aggregates temporal stats") {
    // 3 solid 24x12 frames — black, mid-gray, white — encoded as JPEG and
    // concatenated: the rawest motion-JPEG container. Solid frames survive
    // JPEG's lossy round-trip almost exactly (small tolerances below).
    def jpegFrame(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(24, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 24) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val mjpeg = Array(0x000000, 0x808080, 0xFFFFFF).flatMap(jpegFrame)
    val media = Seq(
      Multimodal.MediaRecord(20L, "video", mjpeg, Map.empty),
      // a non-MJPEG video payload (no JPEG SOI) keeps the documented
      // stub fallback — codec containers are out of scope for pure JDK
      Multimodal.MediaRecord(21L, "video", Array[Byte](4, 5, 6, 7), Map.empty))
      .toDS()
    val feats = Multimodal.decodeFeatures(media, batchSize = 2).collect()
      .map(f => f.media_id -> f).toMap
    val f = feats(20L).feature
    assert(f(0) === 3.0f, "three frames detected")
    assert(f(1) === 24.0f && f(2) === 12.0f && f(3) === 2.0f, "dims + aspect")
    assert(math.abs(f(4) - 0.5f) < 0.01f, "mean luma across black/gray/white")
    assert(f(5) > 0.3f, "temporal luma stddev spans the ramp")
    assert(f(6) < 0.02f, "solid frames have ~zero spatial stddev")
    assert(math.abs(f(7) - 0.5f) < 0.01f, "motion proxy: two ~0.5 luma steps")
    assert(feats(20L).n_bytes === mjpeg.length.toLong)
    // the garbage payload matched the stub exactly (deterministic fake)
    val stub = Multimodal.decodeFeatures(
      Seq(Multimodal.MediaRecord(21L, "video", Array[Byte](4, 5, 6, 7),
        Map.empty)).toDS()).collect().head
    assert(feats(21L).feature.toSeq === stub.feature.toSeq)
  }

  test("multimodal: resize rewrites image meta only; frame plan explodes video") {
    val media = Multimodal.syntheticMedia(spark, 60)
    val resized = Multimodal.resizeMeta(media, maxSide = 32).collect()
    resized.filter(_.kind == "image").foreach { r =>
      assert(r.meta("width").toInt <= 32 && r.meta("height").toInt <= 32)
    }
    resized.filter(_.kind != "image").foreach(r => assert(!r.meta.contains("resized")))
    val frames = Multimodal.frameSamplePlan(media, everyMs = 1000)
    assert(frames.count() > 0)
    val perVideo = frames.groupBy("media_id").count()
    assert(perVideo.agg(min("count")).as[Long].first() >= 2L)
  }

  test("streaming: dedupStream keeps first arrival, drops in-watermark duplicates") {
    import org.apache.spark.sql.types._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tmpDir("stream_dedup")
    val schema = StructType(Seq(
      StructField("doc_key", StringType), StructField("ts", TimestampType),
      StructField("payload", StringType)))
    Seq(("A", ts("2024-01-01 10:00:00"), "first-a"), ("B", ts("2024-01-01 10:01:00"), "first-b"))
      .toDF("doc_key", "ts", "payload").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1100)
    // A re-arrives in a later micro-batch within the watermark → dropped
    Seq(("A", ts("2024-01-01 10:02:00"), "dup-a"), ("C", ts("2024-01-01 10:03:00"), "first-c"))
      .toDF("doc_key", "ts", "payload").coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val got = EventStreams.runToMemoryAppend(spark, stream,
        df => EventStreams.dedupStream(df, Seq("doc_key"), "ts", "1 hour"),
        "stream_dedup")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got === Map("A" -> "first-a", "B" -> "first-b", "C" -> "first-c"))
  }

  test("streaming: chunk-level CDC dedup keeps one copy of repeated content") {
    import org.apache.spark.sql.types._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tmpDir("stream_cdc")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val body = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through the long repeated paragraph of shared corpus text"
    Seq((1L, ts("2024-01-01 10:00:00"), body))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1100)
    // the same content re-ingested as a different doc in a later batch:
    // its chunks are in-watermark duplicates by hash and must all drop
    Seq((2L, ts("2024-01-01 10:05:00"), body))
      .toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val got = EventStreams.runToMemoryAppend(spark, stream,
        df => EventStreams.dedupStream(
          df.select(col("doc_id"), col("ts"),
            explode(graft.functions.minhashExprs.cdcChunks(col("text"), 8, 1))
              .as("c"))
            .select(col("doc_id"), col("ts"), col("c.hash").as("hash")),
          Seq("hash"), "ts", "1 hour"),
        "stream_cdc_dedup")
      .collect()
    assert(got.nonEmpty)
    // every surviving chunk row is doc 1's; doc 2 contributed nothing new
    assert(got.map(_.getLong(0)).toSet === Set(1L))
    // and the survivors are exactly doc 1's distinct chunk hashes
    val expected = Seq(body).toDF("text")
      .select(explode(graft.functions.minhashExprs.cdcChunks(col("text"), 8, 1)).as("c"))
      .select(col("c.hash")).distinct().count()
    assert(got.map(_.getString(2)).toSet.size.toLong === expected)
  }

  test("streaming: windowed agg over readStream == batch result") {
    val batchDf = Queries.events(spark, sf())
    val expected = EventStreams.hourlyTypeCounts(batchDf)
      .orderBy("window_start", "event_type").collect()

    // stream the same parquet through a memory sink: the layout-appropriate
    // session (plain for timestamp[us]; the nanos-as-long derived session
    // for TIMESTAMP(NANOS)) comes from eventsStreamSession, and the ts
    // normalization is the same schema-adaptive helper the batch path uses.
    // streaming file source needs a DIRECTORY — glob-filter the events file
    val (sess, rawSchema) = Queries.eventsStreamSession(spark, sf())
    val stream = Queries.normalizeTs(
        sess.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf()))
      .withWatermark("ts", "2 hours")
    val got = EventStreams.runToMemory(sess, stream,
        EventStreams.hourlyTypeCounts, "hourly_stream")
      .orderBy("window_start", "event_type").collect()

    assert(got.length === expected.length)
    assert(got.map(_.toSeq).toSeq === expected.map(_.toSeq).toSeq)
  }

  test("streaming: session windows produce bounded per-user sessions") {
    val sessions = EventStreams.userSessions(Queries.events(spark, sf()), "30 minutes")
    val n = sessions.count()
    assert(n > 0)
    val bad = sessions.where(col("session_end") < col("session_start")).count()
    assert(bad === 0)
  }
}
