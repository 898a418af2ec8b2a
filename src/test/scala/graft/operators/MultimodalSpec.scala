package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multimodal plumbing specs: real BinaryType round-trip, magic-byte
  * sniffing on actual file signatures, and the batched decode shape. */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 1, 2)
  private val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9, 9)
  private val other = "just text bytes".getBytes("UTF-8")

  private def bins = Seq((1L, png), (2L, jpeg), (3L, other))
    .toDF("id", "payload")

  test("sniffFormat recognizes real magic bytes on BinaryType") {
    val got = bins.select(col("id"),
      Multimodal.sniffFormat(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "png", 2L -> "jpeg", 3L -> "unknown"))
  }

  test("contentMeta emits typed metadata struct") {
    val m = bins.where(col("id") === 1)
      .select(Multimodal.contentMeta(col("payload")).as("m"))
      .select("m.byte_len", "m.format", "m.head_hex").collect().head
    assert(m.getLong(0) == 10L)
    assert(m.getString(1) == "png")
    assert(m.getString(2) == "89504e470d0a1a0a")
  }

  test("decodeBatched: per-partition decoder, declared schema, stub output") {
    val out = Multimodal.decodeBatched(bins.repartition(2), "id", "payload")
    assert(out.schema.fieldNames.toSeq ==
      Seq("id", "byte_len", "width", "height", "n_frames"))
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L)._1 == 10L)
    // deterministic: same payload, same stub dimensions every run
    val again = Multimodal.decodeBatched(bins, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(again == rows)
    // injectable decoder: swap the codec without touching the plumbing
    val fixed = Multimodal.decodeBatched(bins, "id", "payload",
      _ => (1, 2, 3)).select("width", "height", "n_frames")
      .distinct().collect()
    assert(fixed.length == 1 && fixed.head.getInt(0) == 1)
    // NULL payload keeps the row with NULL metadata, no crash
    val withNull = bins.unionByName(
      Seq((9L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload"))
    val nullRow = Multimodal.decodeBatched(withNull, "id", "payload")
      .where(col("id") === 9L).collect().head
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
  }

  test("per-payload contract of the eight decode operators: rows, NULL columns, byte_len") {
    import javax.sound.sampled._
    val image = {
      val img = new java.awt.image.BufferedImage(4, 3,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 400 silent 16-bit samples at 8 kHz: two 25 ms frames
    val wav = {
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](800)),
        new AudioFormat(8000f, 16, 1, true, false), 400L),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val garbage = "neither image nor audio".getBytes("UTF-8")
    val frame = Seq((1L, image), (2L, wav), (3L, garbage),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
      .repartition(2)
    assert(frame.rdd.getNumPartitions == 2)
    val len = Map(1L -> image.length.toLong, 2L -> wav.length.toLong,
      3L -> garbage.length.toLong)
    val (img, aud) = (Set(1L), Set(2L))
    // operator, output, the ids it decodes, rows per decoded id, and
    // whether an undecodable or NULL payload keeps its row
    val table = Seq(
      ("decodeBatched", Multimodal.decodeBatched(frame, "id", "payload"),
        Set(1L, 2L, 3L), 1, true),
      ("decodeImages", Multimodal.decodeImages(frame, "id", "payload"), img, 1, true),
      ("sampleFrames", Multimodal.sampleFrames(frame, "id", "payload"), img, 1, true),
      ("resizeImages", Multimodal.resizeImages(frame, "id", "payload"), img, 1, true),
      ("imageAHash", Multimodal.imageAHash(frame, "id", "payload"), img, 1, true),
      ("imageDHash", Multimodal.imageDHash(frame, "id", "payload"), img, 1, true),
      ("decodeAudio", Multimodal.decodeAudio(frame, "id", "payload"), aud, 1, true),
      ("audioFrameFeatures", Multimodal.audioFrameFeatures(frame, "id", "payload"),
        aud, 2, false))
    for ((op, out, decoded, perDecoded, keepsRow) <- table) {
      val fields = out.schema.fieldNames.toSeq
      assert(fields.head == "id", op)
      val hasLen = fields.contains("byte_len")
      assert(hasLen == !Set("sampleFrames", "resizeImages",
        "audioFrameFeatures")(op), s"$op: $fields")
      val byId = out.collect().groupBy(_.getLong(0))
      for (id <- 1L to 4L) {
        val rows = byId.getOrElse(id, Array.empty[org.apache.spark.sql.Row])
        val expectRows = if (decoded(id)) perDecoded else if (keepsRow) 1 else 0
        assert(rows.length == expectRows, s"$op id $id: ${rows.toSeq}")
        // decoded: nothing NULL; undecodable: all but id and byte_len;
        // NULL payload: all but id
        val expectNull =
          if (decoded(id)) Set.empty[String]
          else if (id == 4L) fields.tail.toSet
          else fields.tail.toSet - "byte_len"
        rows.foreach { r =>
          val nulls = fields.filter(f => r.isNullAt(r.fieldIndex(f))).toSet
          assert(nulls == expectNull, s"$op id $id: $r")
          if (hasLen && id != 4L) assert(r.getAs[Long]("byte_len") == len(id), s"$op id $id")
        }
      }
    }
    // the injected decoder is trusted: its exception fails the task
    val boom = Multimodal.decodeBatched(frame, "id", "payload",
      _ => throw new IllegalStateException("codec crashed"))
    intercept[org.apache.spark.SparkException](boom.collect())
  }

  test("decodeImages: REAL JDK ImageIO decode — dims + pixel stats; garbage → NULLs") {
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val red = png(8, 6, 0xff0000)     // Rec.601 luma 0.299
    val white = png(3, 3, 0xffffff)   // luma 1.0
    val data = Seq(
      (1L, red), (2L, white),
      (3L, "not an image at all".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val out = Multimodal.decodeImages(data.repartition(2), "id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) == 8 && out(1L).getInt(3) == 6)
    assert(out(1L).getDouble(4) == 0.299)
    assert(out(2L).getInt(2) == 3 && out(2L).getDouble(4) == 1.0)
    // garbage bytes: row kept, byte_len real, image columns NULL
    assert(!out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(4))
    // NULL payload: all NULL
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(2))
    // a JPEG round-trips through the same JDK codec path
    val img = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jr = Multimodal.decodeImages(
      Seq((7L, bos.toByteArray)).toDF("id", "payload"), "id", "payload")
      .collect().head
    assert(jr.getInt(2) == 5 && jr.getInt(3) == 4)
  }

  test("resizeImages: aspect-preserving thumbnail, decodable PNG out") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(100, 50,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 50; x <- 0 until 100) img.setRGB(x, y, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val data = Seq((1L, bos.toByteArray),
      (2L, "garbage".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.resizeImages(data, "id", "payload", maxDim = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 10 && out(1L).getInt(2) == 5)
    // the thumbnail itself decodes back through the same codec path
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).getAs[Array[Byte]](3)))
    assert(back.getWidth == 10 && back.getHeight == 5)
    assert((back.getRGB(5, 2) & 0xff) > 200, "blue image stayed blue")
    assert(out(2L).isNullAt(3))
    // already-small images pass through at native size (no upscale)
    val small = Multimodal.resizeImages(data.where($"id" === 1L),
      "id", "payload", maxDim = 500).collect().head
    assert(small.getInt(1) == 100 && small.getInt(2) == 50)
  }

  test("imageAHash + imageNearDups: perceptual near-dup across encode/brightness") {
    import spark.implicits._
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // a gradient-with-structure image; +delta = mildly brightened copy
    def gradient(w: Int, h: Int, delta: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = math.min(255, (x * 255) / w + (if ((y / 8) % 2 == 0) 40 else 0)
          + delta)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    // an unrelated image: vertical instead of horizontal gradient
    def vert(w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (y * 255) / h
        img.setRGB(x, y, (v << 16) | ((255 - v) << 8) | v)
      }
      img
    }
    val base = gradient(64, 64, 0)
    val data = Seq(
      (1L, encode(base, "png")),
      (2L, encode(base, "bmp")),            // same pixels, other format
      (3L, encode(gradient(64, 64, 6), "png")), // mildly brightened
      (4L, encode(vert(64, 64), "png")),    // unrelated image
      (5L, "garbage".getBytes("UTF-8")))    // undecodable
      .toDF("id", "payload")
    val hashes = Multimodal.imageAHash(data, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(hashes(1L).isDefined && hashes(1L) == hashes(2L),
      "same pixels hash identically across formats")
    assert(hashes(5L).isEmpty, "garbage payload yields NULL hash")
    val pairs = Multimodal.imageNearDups(data, "id", "payload", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)), "brightened copy within maxDist")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated image must not pair: $pairs")
  }

  test("decodeAudio: REAL JDK WAV/PCM decode — rate, duration, RMS; garbage → NULLs") {
    import javax.sound.sampled._
    // generate a 0.5 s 440 Hz sine, 16-bit signed mono PCM @ 8 kHz,
    // amplitude 0.6 → expected RMS = 0.6/√2
    def wav(seconds: Double, hz: Double, amp: Double, rate: Float,
        channels: Int): Array[Byte] = {
      val nFrames = (seconds * rate).toInt
      val bytes = new Array[Byte](nFrames * 2 * channels)
      for (i <- 0 until nFrames; c <- 0 until channels) {
        val v = (amp * math.sin(2 * math.Pi * hz * i / rate) * 32767).toShort
        val off = (i * channels + c) * 2
        bytes(off) = (v & 0xff).toByte          // little-endian
        bytes(off + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate, 16, channels, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, nFrames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val mono = wav(0.5, 440, 0.6, 8000f, 1)
    val stereo = wav(0.25, 220, 0.4, 16000f, 2)
    val rows = Seq(
      (1L, mono), (2L, stereo),
      (3L, "definitely not audio".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val got = Multimodal.decodeAudio(rows, "id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    // mono: 8000 Hz, 1 ch, 500 ms, RMS ≈ 0.6/√2
    assert(got(1L).getInt(2) == 8000 && got(1L).getInt(3) == 1)
    assert(got(1L).getLong(4) == 500L)
    assert(math.abs(got(1L).getDouble(5) - 0.6 / math.sqrt(2)) < 1e-3,
      got(1L).toString)
    // stereo: 16 kHz, 2 ch, 250 ms, RMS ≈ 0.4/√2 pooled across channels
    assert(got(2L).getInt(2) == 16000 && got(2L).getInt(3) == 2)
    assert(got(2L).getLong(4) == 250L)
    assert(math.abs(got(2L).getDouble(5) - 0.4 / math.sqrt(2)) < 1e-3,
      got(2L).toString)
    // garbage: row kept, byte_len real, audio columns NULL
    assert(got(3L).getLong(1) > 0 && got(3L).isNullAt(2) &&
      got(3L).isNullAt(4) && got(3L).isNullAt(5))
    // NULL payload: everything NULL, row kept
    assert(got(4L).isNullAt(1) && got(4L).isNullAt(2))
  }

  test("decodeAudio: RMS prefix bound caps the scan, not the metadata") {
    import javax.sound.sampled._
    // constant full-scale signal: RMS over ANY prefix is 1.0, so the
    // bound changes cost only; duration still reads the full header
    val rate = 8000f
    val nFrames = 4 * rate.toInt // 4 s -> 64 KB of PCM
    val bytes = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      bytes(i * 2) = 0xff.toByte; bytes(i * 2 + 1) = 0x7f.toByte // 32767
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, nFrames.toLong),
      AudioFileFormat.Type.WAVE, out)
    val df = Seq((1L, out.toByteArray)).toDF("id", "payload")
    val r = Multimodal.decodeAudio(df, "id", "payload",
      maxSampleBytes = 1024).collect().head
    assert(r.getLong(4) == 4000L, "duration must come from the header")
    assert(math.abs(r.getDouble(5) - 1.0) < 1e-3)
  }

  test("sampleFrames: REAL animated-GIF frame decode — count, sampling, luma") {
    import spark.implicits._
    // animated GIF written through the JDK's own GIF writer: one
    // IIOImage appended per frame (no external library)
    def animatedGif(lumas: Seq[Int]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      lumas.foreach { v =>
        val img = new java.awt.image.BufferedImage(8, 6,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        g.setColor(new java.awt.Color(v, v, v))
        g.fillRect(0, 0, 8, 6); g.dispose()
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      bos.toByteArray
    }
    val gif5 = animatedGif(Seq(0, 64, 128, 192, 255))
    val png1 = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val df = Seq((1L, gif5), (2L, png1), (3L, Array[Byte](1, 2, 3)),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val out = Multimodal.sampleFrames(df, "id", "payload", maxFrames = 3)
      .orderBy("id").collect()
    // 5 frames, sampled evenly to 3: indices 0, 1, 3 (i*5/3)
    assert(out(0).getInt(1) == 5)
    val frames = out(0).getSeq[org.apache.spark.sql.Row](2)
    assert(frames.map(_.getInt(0)) == Seq(0, 1, 3))
    assert(frames.forall(f => f.getInt(1) == 8 && f.getInt(2) == 6))
    // luma tracks the painted gray levels, monotone across sampled frames
    val lumas = frames.map(_.getDouble(3))
    assert(lumas(0) < 0.1 && lumas(1) < lumas(2), lumas.toString)
    // single-frame image: one frame, full count 1
    assert(out(1).getInt(1) == 1 &&
      out(1).getSeq[org.apache.spark.sql.Row](2).length == 1)
    // garbage and NULL payloads: row kept, stats NULL
    assert(out(2).isNullAt(1) && out(3).isNullAt(1))
  }

  test("fakeEmbedding feeds the vector operators") {
    val e = bins.select(col("id").as("vec_id"),
      Multimodal.fakeEmbedding(col("payload"), 8).as("embedding"))
    val norms = e.select(
      graft.functions.VectorFunctions.l2Norm(col("embedding")).as("n"))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => n > 0 && n < math.sqrt(8.0) + 1e-9))
  }

  test("imageDHash: gradient bits, brightness invariance, uniform → 0") {
    import spark.implicits._
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def gradient(delta: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = math.min(255, x * 4 + delta)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val uni = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) uni.setRGB(x, y, 0x808080)
    val data = Seq(
      (1L, encode(gradient(0))),
      (2L, encode(gradient(40))), // brightened copy
      (3L, encode(uni)),
      (4L, "junk".getBytes("UTF-8")),
      (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val got = Multimodal.imageDHash(data, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // left-to-right increasing luma: every gradient bit fires
    assert(got(1L).contains(-1L), got(1L).toString) // 64 ones
    // global brightness shift preserves the gradients exactly (the
    // aHash mean threshold would move; dHash must not)
    assert(got(1L) == got(2L))
    // uniform image: no gradients — all-zeros, not aHash's all-ones
    assert(got(3L).contains(0L))
    assert(got(4L).isEmpty && got(5L).isEmpty)
  }

  test("audioFrameFeatures: framewise RMS/ZCR on a real sine, silence, partial tail") {
    import javax.sound.sampled._
    def wav(samples: Array[Short], rate: Float): Array[Byte] = {
      val bytes = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        bytes(i * 2) = (samples(i) & 0xff).toByte
        bytes(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt,
        samples.length.toLong), AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val rate = 8000f
    // 0.26 s of 440 Hz at amp 0.6 → 2080 samples = 10 full 25 ms
    // frames (200 samples) + one 80-sample tail
    val sine = Array.tabulate((0.26 * rate).toInt)(i =>
      (0.6 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toShort)
    val silence = Array.fill(400)(0.toShort)
    val rows = Seq(
      (1L, wav(sine, rate)), (2L, wav(silence, rate)),
      (3L, "not audio".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = Multimodal.audioFrameFeatures(rows, "id", "payload",
        frameMs = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val sineFrames = got.keys.filter(_._1 == 1L).map(_._2)
    assert(sineFrames.size == 11 && sineFrames.max == 10L)
    // full frames: 11 cycles of the sine each → RMS ≈ 0.6/√2, ZCR ≈
    // 2 crossings/cycle × 440 Hz / 8 kHz = 0.11
    for (f <- 0L until 10L) {
      val (n, rms, zcr) = got((1L, f))
      assert(n == 200L)
      assert(math.abs(rms - 0.6 / math.sqrt(2)) < 0.01, s"frame $f rms $rms")
      assert(math.abs(zcr - 0.11) < 0.02, s"frame $f zcr $zcr")
    }
    // the partial tail keeps its true sample count
    assert(got((1L, 10L))._1 == 80L)
    // silence: RMS 0, no sign changes
    val (sn, srms, szcr) = got((2L, 0L))
    assert(sn == 200L && srms == 0.0 && szcr == 0.0)
    // undecodable payloads contribute no frame rows
    assert(!got.keys.exists(_._1 == 3L))
  }

  test("energySegments: tone/silence/tone WAV splits into two segments; all-silent yields none") {
    import spark.implicits._
    import javax.sound.sampled._
    def wav(samples: Array[Short], rate: Float): Array[Byte] = {
      val bytes = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        bytes(i * 2) = (samples(i) & 0xff).toByte
        bytes(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt,
        samples.length.toLong), AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val rate = 8000f
    def tone(n: Int) = Array.tabulate(n)(i =>
      (0.5 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toShort)
    def silence(n: Int) = Array.fill(n)(0.toShort)
    // 25 ms frames = 200 samples: 4 tone frames, 3 silent, 2 tone
    val composite = tone(800) ++ silence(600) ++ tone(400)
    val rows = Seq(
      (1L, wav(composite, rate)),
      (2L, wav(silence(600), rate)))
      .toDF("id", "payload")
    val frames = Multimodal.audioFrameFeatures(rows, "id", "payload",
      frameMs = 25)
    val segs = Multimodal.energySegments(frames, threshold = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // two active islands with exact frame ranges
    assert(segs.keys.map(_._1).toSet == Set(1L), segs.keys.toString)
    val (s0start, s0end, s0n, s0rms) = segs((1L, 0L))
    assert((s0start, s0end, s0n) == ((0L, 4L, 4L)), segs.toString)
    assert(math.abs(s0rms - 0.5 / math.sqrt(2)) < 0.01, s0rms.toString)
    assert(segs((1L, 1L))._1 == 7L && segs((1L, 1L))._2 == 9L &&
      segs((1L, 1L))._3 == 2L, segs.toString)
  }
}
