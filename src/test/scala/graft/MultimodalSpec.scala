package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Multimodal plumbing: binary column schema, batched decode-stub, frame
  * sampling shape, and composition of extracted features with the
  * similarity operators.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.ingestFromDocuments(
    Tables.documents(spark, tiny))

  test("ingest: binary payload column, kinds partitioned") {
    val df = media.toDF()
    assert(df.schema("payload").dataType.typeName === "binary")
    val kinds = df.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet === Set("image", "audio", "video"))
    assert(kinds.values.sum === 500L)
  }

  test("extractMeta: deterministic stub decode, md5 matches payload") {
    val meta = Multimodal.extractMeta(media).orderBy("media_id").collect()
    assert(meta.length === 500)
    assert(meta.forall(m => m.width >= 1 && m.height >= 1 && m.n_bytes > 0))
    // hash equals md5 of the source text (payload = utf-8 bytes of text)
    val expected = Tables.documents(spark, tiny)
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("h"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(meta.map(_.hash).toSeq === expected.toSeq)
    // deterministic across runs
    val again = Multimodal.extractMeta(media).orderBy("media_id").collect()
    assert(meta.map(m => (m.width, m.height)).toSeq ===
      again.map(m => (m.width, m.height)).toSeq)
  }

  test("extractMeta: REAL image payloads decode to their true dimensions") {
    // render genuine PNG and JPEG images in-memory — this exercises the
    // actual javax.imageio path, not the deterministic fallback
    def img(w: Int, h: Int, fmt: String): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => bi.setRGB(x, 0, x * 7919))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, fmt, bos))
      bos.toByteArray
    }
    val real = Seq(
      Multimodal.Media(1L, "image", img(123, 45, "png")),
      Multimodal.Media(2L, "image", img(64, 128, "jpg")),
      Multimodal.Media(3L, "audio", "not an image".getBytes("UTF-8")))
    val meta = Multimodal.extractMeta(real.toDS())
      .orderBy("media_id").collect()
    assert(meta(0).width === 123 && meta(0).height === 45)
    assert(meta(1).width === 64 && meta(1).height === 128)
    // non-image payload takes the deterministic fallback, bounded dims
    assert(meta(2).width >= 1 && meta(2).width <= 1920)
    assert(meta(2).height >= 1 && meta(2).height <= 1080)
  }

  test("sampleFrames: one row per sampled fixed-size window") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, every = 4)
    val f = frames.filter($"media_id" === 1).orderBy("frame_no").collect()
    val payloadLen = media.filter($"media_id" === 1).head().payload.length
    val nWindows = (payloadLen + 63) / 64
    assert(f.map(_.getAs[Int]("frame_no")).toSeq ===
      (0 until nWindows by 4).toSeq)
    assert(f.forall(_.getAs[Array[Byte]]("frame").length <= 64))
  }

  test("features compose with EmbeddingOps-style cosine math") {
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
    assert(feats.filter(size($"feature") =!= 16).count() === 0)
    val sims = feats.limit(10).toDF("id_a", "f_a")
      .crossJoin(feats.limit(10).toDF("id_b", "f_b"))
      .filter($"id_a" < $"id_b")
      .withColumn("dot", expr(
        graft.text.TextExprs.dot("f_a", "f_b", 16).spark))
    assert(sims.filter($"dot".isNull).count() === 0)
  }

  test("resize: real-image path is exact nearest-neighbor pixel sampling") {
    import spark.implicits._
    // 16x8 PNG, left half pure red, right half pure blue
    val w = 16; val h = 8
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      bi.setRGB(x, y, if (x < w / 2) 0xFF0000 else 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val media = Seq(Multimodal.Media(1L, "image", bos.toByteArray)).toDS()
    val row = Multimodal.resizeThumbs(media).collect().head
    val thumb = row.getAs[String]("thumb").split("-").map(_.toInt)
    assert(thumb.length === 64)
    // thumb col c samples source x = c*16/8 = 2c: cols 0-3 red, 4-7 blue
    for (k <- thumb.indices) {
      val expected = if (k % 8 < 4) 0xFF0000 else 0x0000FF
      assert(thumb(k) === expected, s"pixel $k")
    }
  }

  test("synthetic PNG gates: real encode→decode round-trip matches the arithmetic oracle") {
    // the Scala-side re-derivation of the DuckDB oracle formulas — any
    // codec nondeterminism (color management, dimension drift) breaks it
    val out = Multimodal.decodePngQuery(spark, tiny).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === (1 + (id * 7) % 48).toInt, s"width of $id")
      assert(r.getInt(2) === (1 + (id * 13) % 32).toInt, s"height of $id")
      assert(r.getString(3) === "89504E470D0A1A0A", s"PNG signature of $id")
    }
    val rz = Multimodal.resizePngQuery(spark, tiny).limit(50).collect()
    rz.foreach { r =>
      val id = r.getLong(0)
      val w = 1 + (id * 7) % 48; val h = 1 + (id * 13) % 32
      val want = Array.tabulate(64) { k =>
        val x = (k % 8) * w / 8; val y = (k / 8) * h / 8
        (((id * 31 + x * 17 + y * 29) % 256) * 0x010101).toInt
      }
      assert(r.getAs[String]("thumb") === want.mkString("-"), s"thumb of $id")
    }
  }

  test("decodeVideoFrames: REAL animated GIFs decode to their true frames") {
    // synthesize via the ingest path for one id, then decode and compare
    // against the defining arithmetic — the real multi-frame ImageIO path
    val m = Multimodal.ingestSyntheticGif(
      Seq(5L).toDF("doc_id")).collect().head
    assert(new String(m.payload, 0, 6, "US-ASCII") === "GIF89a")
    val Some((w, h, frames)) = Multimodal.DecodeStub.decodeVideoFrames(m.payload)
    val id = 5L
    assert(w === (8 + (id * 5) % 24).toInt && h === (4 + (id * 3) % 16).toInt)
    assert(frames.length === (2 + id % 6).toInt)
    frames.zipWithIndex.foreach { case (a, f) =>
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          assert(a(y * w + x) ===
            ((id * 11 + f * 7 + x * 17 + y * 29) % 256).toInt,
            s"pixel ($x,$y) of frame $f")
        }
      }
    }
    // non-GIF payload falls through, like the image/audio fallbacks
    assert(Multimodal.DecodeStub.decodeVideoFrames(
      "not a gif".getBytes("UTF-8")).isEmpty)
  }

  test("decodeAudio: REAL WAV payloads decode to their true format and samples") {
    // hand-build a WAV through the JDK encoder with known PCM, then
    // assert the decode path returns the format AND the exact samples —
    // the real javax.sound.sampled path, not a stand-in
    val samples = Array(0, 1, -1, 32767, -32768, 12345, -12345)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(10000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((rate, ch, bits, n, decoded)) =
      Multimodal.DecodeStub.decodeAudio(bos.toByteArray)
    assert(rate === 10000 && ch === 1 && bits === 16)
    assert(n === samples.length.toLong)
    assert(decoded.toSeq === samples.toSeq) // WAV PCM is lossless
    // a non-audio payload must fall through, like the image fallback
    assert(Multimodal.DecodeStub.decodeAudio(
      "not audio".getBytes("UTF-8")).isEmpty)
  }

  test("synthetic WAV gates: real encode→decode round-trip matches the arithmetic oracle") {
    val out = Multimodal.decodeWavQuery(spark, tiny).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val id = r.getLong(0)
      val rate = (id % 3) match { case 0 => 8000; case 1 => 10000; case _ => 20000 }
      val n = 50 + (id * 11) % 200
      assert(r.getAs[Int]("sample_rate") === rate, s"rate of $id")
      assert(r.getAs[Int]("channels") === 1 && r.getAs[Int]("bits") === 16)
      assert(r.getAs[Long]("n_frames") === n, s"frames of $id")
      assert(r.getAs[Long]("duration_us") === n * (1000000L / rate))
      assert(r.getAs[String]("magic") === "52494646", s"RIFF magic of $id")
      val want = (0L until n).foldLeft(0L) { (acc, i) =>
        (acc + (i + 1) * ((id * 37 + i * 1009) % 65536)) % 1000003L
      }
      assert(r.getAs[Long]("pcm_checksum") === want, s"waveform of $id")
    }
    // window rows partition the frames exactly: per-doc window count and
    // total frame count re-derived
    val win = Multimodal.wavWindowsQuery(spark, tiny)
      .groupBy("media_id")
      .agg(count("*").as("n_win"), sum("n_frames").as("n_total"))
      .collect()
    win.foreach { r =>
      val id = r.getLong(0)
      val n = 50 + (id * 11) % 200
      assert(r.getAs[Long]("n_total") === n, s"total frames of $id")
      assert(r.getAs[Long]("n_win") === (n + 31) / 32, s"windows of $id")
    }
  }

  test("phash: variants hash perceptually, payloads differ, bands match the arithmetic oracle") {
    // group gid=4 (ids 16..19): w=29, h=21 — both >8, so unsampled pixels
    // exist and variants 0-2 have byte-different payloads with IDENTICAL
    // thumbnails (the re-encoded-image case pHash dedup exists for)
    val ids = Seq(16L, 17L, 18L, 19L).toDF("doc_id")
    val media = Multimodal.ingestSyntheticPngNear(ids).collect()
      .map(m => m.media_id -> m.payload).toMap
    assert(media.values.map(_.toSeq).toSet.size === 4, "payloads all differ")
    val bands = Multimodal.phashRows(ids).orderBy("media_id").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Int]("b0"), r.getAs[Int]("b1"), r.getAs[Int]("b2"), r.getAs[Int]("b3")))
      .toMap
    assert(bands(16L) === bands(17L) && bands(16L) === bands(18L),
      "unsampled-pixel perturbation must not move the hash")
    // Scala re-derivation of the oracle arithmetic for every variant
    (16L to 19L).foreach { id =>
      val gid = id / 4; val v = id % 4
      val w = (1 + (gid * 7) % 48).toInt; val h = (1 + (gid * 13) % 32).toInt
      val t = Array.tabulate(64) { k =>
        val sx = (k % 8) * w / 8; val sy = (k / 8) * h / 8
        val base = ((gid * 31 + sx * 17 + sy * 29) % 256).toInt
        if (v == 3 && (sx * 7 + sy * 11) % 5 == 0) (base + 128) % 256 else base
      }
      val sum = t.foldLeft(0L)(_ + _)
      val want = Array.fill(4)(0)
      for (k <- 0 until 64) if (64L * t(k) > sum) want(k / 16) |= 1 << (k % 16)
      assert(bands(id) === ((want(0), want(1), want(2), want(3))), s"bands of $id")
    }
    // dedup: the zero-distance variants pair up through the banded join,
    // every emitted pair is ordered and within the Hamming threshold
    val pairs = Multimodal.phashDedupQuery(spark, tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val within = pairs.collect { case (a, b, hm) if a / 4 == b / 4 => (a, b, hm) }
    assert(Set((16L, 17L), (16L, 18L), (17L, 18L)).subsetOf(
      within.map(p => (p._1, p._2)).toSet))
    assert(pairs.forall { case (a, b, hm) => a < b && hm >= 0 && hm <= 8 })
    assert(within.collect { case (a, b, 0) => (a, b) }.nonEmpty)
  }
}
