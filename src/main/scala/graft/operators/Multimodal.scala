package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import scala.util.control.NonFatal

/** Multimodal-column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, processed by per-row
  * expressions that never leave Tungsten.
  *
  * What is REAL here (and exercised by tests/oracle): BinaryType
  * columns through the whole pipeline, content-sniffing on magic
  * bytes, sizing/hashing metadata, deterministic chunking ("frame
  * sampling" over byte ranges), and a deterministic feature vector
  * derived from content hashes that flows into the `VectorFunctions` /
  * `Similarity` operators.
  *
  * IMAGE decode is REAL ([[decodeImages]]): the JDK's own
  * `javax.imageio` codecs (PNG/JPEG/GIF/BMP) need no external library,
  * so dimensions and pixel statistics come from actual decoding.
  *
  * AUDIO decode is REAL for the formats the JDK itself parses
  * ([[decodeAudio]]): WAV/AIFF/AU PCM via `javax.sound.sampled`, no
  * external codec — sample rate, channels, duration, and a bounded
  * RMS come from actual decoding.
  *
  * FRAME SAMPLING is REAL for multi-frame containers the JDK decodes
  * ([[sampleFrames]]): animated GIF frames are actually decoded —
  * frame count probe, even sampling, per-frame dims + luma.
  *
  * What remains STUBBED (clearly): COMPRESSED audio (mp3/aac/ogg) and
  * compressed video (mp4/webm) decode — no such codec ships in this
  * environment; at
  * production scale that step is the same `mapPartitions` shape with a
  * native decoder injected ([[decodeBatched]]), batch-sized partitions
  * (`spark.sql.files.maxPartitionBytes` tuned so a partition of
  * payloads fits executor memory); [[fakeEmbedding]] stands in for the
  * decoder's feature output deterministically.
  *
  * ==Per-payload operators==
  * [[decodeBatched]], [[decodeAudio]], [[decodeImages]],
  * [[sampleFrames]], [[resizeImages]], [[imageAHash]], [[imageDHash]]
  * and [[audioFrameFeatures]] share one scaffold, the Spark-side shape
  * of a batched media decoder: the input is narrowed to (id, payload),
  * the output schema is declared up front (the id field, `byte_len`
  * where the operator reports it, then the operator's own fields), and
  * one `mapPartitions` streams the rows lazily through the operator's
  * per-payload function, with per-partition setup (ImageIO's in-memory
  * mode) done once. Each operator states only its fields and that
  * function. The contract is the scaffold's, so all eight keep it
  * alike:
  *   - a NULL payload (the norm in scraped corpora) keeps its row with
  *     every field NULL, `byte_len` included;
  *   - an undecodable payload keeps its row with its real `byte_len`
  *     and every other field NULL. Undecodable means the JDK codec
  *     failed in any non-fatal way (unsupported format, corrupt
  *     bytes): never a failed task;
  *   - [[audioFrameFeatures]], one row per audio frame, emits no row
  *     for either;
  *   - [[decodeBatched]]'s injected decoder is trusted: its exception
  *     fails the task.
  */
object Multimodal {

  /** Magic-byte content sniff over the first bytes of a binary column
    * (lowercase hex prefix match): png/jpeg/gif/pdf/zip/unknown. */
  def sniffFormat(bin: Column): Column = {
    val head = lower(hex(substring(bin, 1, 4)))
    when(head.startsWith("89504e47"), "png")
      .when(head.startsWith("ffd8ff"), "jpeg")
      .when(head.startsWith("47494638"), "gif")
      .when(head.startsWith("25504446"), "pdf")
      .when(head.startsWith("504b0304"), "zip")
      .otherwise("unknown")
  }

  /** Typed metadata struct for an opaque payload: byte length, sniffed
    * format, md5, lowercase hex of the first 8 bytes. */
  def contentMeta(bin: Column): Column =
    struct(
      octet_length(bin).cast("long").as("byte_len"),
      sniffFormat(bin).as("format"),
      md5(bin).as("content_md5"),
      lower(hex(substring(bin, 1, 8))).as("head_hex"))

  /** Deterministic "frame sampling": `n` fixed-stride byte windows of
    * `width` bytes, each fingerprinted — the real scan/chunk shape of
    * a video frame sampler with the codec swapped for a hash.
    * Windows are fingerprinted through the hex form (2 chars/byte) so
    * any engine without blob-slicing built-ins reproduces them. */
  def sampleChunks(bin: Column, n: Int = 4, width: Int = 16): Column = {
    val hx = lower(hex(bin))
    array((0 until n).map(i =>
      md5(substring(hx, i * width * 2 + 1, width * 2))): _*)
  }

  /** STUB feature extractor: an `n`-dim double vector in [-1, 1)
    * derived from seeded content hashes — deterministic across engines
    * (what a real decoder+encoder would emit, shape-wise). Feeds
    * directly into VectorFunctions/Similarity/Dedup.embeddingNearDups. */
  def fakeEmbedding(bin: Column, n: Int = 8): Column =
    array((0 until n).map(i =>
      Sketch.md5Fraction(concat(lit(s"$i|"), lower(hex(bin)))) * 2.0 - 1.0): _*)

  /** The per-payload scaffold (see the object doc). `decode` yields a
    * row of the operator's `fields` for each output row of a decodable
    * payload and nothing for an undecodable one; `keepRow = false` drops
    * undecodable and NULL payloads instead of keeping a NULL row.
    * `imageIO` decodes in memory: ImageIO's default file cache spools
    * every payload to a temp file first (a JVM-global switch, set once
    * per partition). */
  private def perPayload(df: DataFrame, id: String, binCol: String,
      byteLen: Boolean, fields: Seq[StructField], keepRow: Boolean = true,
      imageIO: Boolean = false)(
      decode: Array[Byte] => IterableOnce[Row]): DataFrame = {
    val in = df.select(col(id), col(binCol))
    val lenField = if (byteLen) Seq(StructField("byte_len", LongType)) else Nil
    val schema = StructType(in.schema.head +: (lenField ++ fields))
    val nulls = Row.fromSeq(Seq.fill(fields.length)(null))
    in.mapPartitions { rows =>
      if (imageIO) ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](1)
        val out =
          if (payload == null) Iterator.empty else decode(payload).iterator
        val len =
          if (!byteLen) Nil
          else Seq(if (payload == null) null else payload.length.toLong)
        (if (keepRow && !out.hasNext) Iterator.single(nulls) else out)
          .map(v => Row.fromSeq(r.get(0) +: (len ++ v.toSeq)))
      }
    }(Encoders.row(schema))
  }

  /** Batched decode with an injectable codec — the slot a native media
    * decoder binds to (the analogue of a vectorized/batched UDF), on
    * the per-payload scaffold. The decode DEFAULTS TO A STUB
    * ([[stubDecode]]), standing in for the native codec this
    * environment doesn't ship. Partition sizing governs decoder memory:
    * tune `spark.sql.files.maxPartitionBytes` so one partition of
    * payloads fits an executor core.
    *
    * Output: id, byte_len, width, height, n_frames. */
  def decodeBatched(df: DataFrame, id: String, binCol: String,
      decoder: Array[Byte] => (Int, Int, Int) = stubDecode)
      : DataFrame =
    perPayload(df, id, binCol, byteLen = true, Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_frames", IntegerType))) { payload =>
      val (w, h, f) = decoder(payload)
      Some(Row(w, h, f))
    }

  /** STUB decoder: deterministic dimensions from the payload's bytes —
    * replace with the real codec binding in production. */
  def stubDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val h = java.util.Arrays.hashCode(payload)
    (640 + math.abs(h % 4) * 160, 360 + math.abs(h / 4 % 4) * 90,
      1 + math.abs(h / 16 % 300))
  }

  /** REAL audio decode — for the formats the JDK itself parses
    * (WAV/AIFF/AU carrying PCM, via `javax.sound.sampled`; no external
    * codec): per row, (byte_len, sample_rate, channels, duration_ms,
    * rms), where rms is the full-scale-normalized root-mean-square over
    * a BOUNDED prefix of the PCM stream (`maxSampleBytes`, default
    * 1 MiB — an hour-long payload costs the same as a clip, the audio
    * analogue of [[decodeImages]]' 64×64 pixel grid), rounded to 4.
    * Compressed codecs are undecodable here: they still need an
    * external decoder ([[decodeBatched]]). NULL and undecodable
    * payloads follow the scaffold's contract (object doc). */
  def decodeAudio(df: DataFrame, id: String, binCol: String,
      maxSampleBytes: Int = 1 << 20): DataFrame =
    perPayload(df, id, binCol, byteLen = true, Seq(
        StructField("sample_rate", IntegerType),
        StructField("channels", IntegerType),
        StructField("duration_ms", LongType),
        StructField("rms", DoubleType))) { payload =>
      readAudio(payload) { in =>
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val durationMs: Any =
          if (frames >= 0 && fmt.getFrameRate > 0)
            (frames * 1000.0 / fmt.getFrameRate).toLong
          else null
        val rms = pcmRms(in, maxSampleBytes)
          .map(v => Double.box(math.rint(v * 10000) / 10000)).orNull
        Row(fmt.getSampleRate.toInt, fmt.getChannels, durationMs, rms)
      }
    }

  /** `f` over the audio stream of a payload the JDK parses, closed
    * after; None when the payload is undecodable
    * (`UnsupportedAudioFileException` for other formats, any non-fatal
    * exception for corrupt headers). */
  private def readAudio[T](payload: Array[Byte])(
      f: AudioInputStream => T): Option[T] =
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try Some(f(in)) finally in.close()
    } catch { case NonFatal(_) => None }

  /** Full-scale-normalized RMS of [[pcmSamples]], all channels pooled
    * into one statistic; None for an unsupported encoding or an empty
    * stream. Streams the samples: the prefix is never held. */
  private def pcmRms(in: AudioInputStream, maxBytes: Int): Option[Double] =
    pcmSamples(in, maxBytes).flatMap { samples =>
      var sumSq = 0.0
      var count = 0L
      samples.foreach { v => sumSq += v * v; count += 1 }
      if (count == 0) None else Some(math.sqrt(sumSq / count))
    }

  /** Full-scale-normalized samples (all channels interleaved) of the
    * first `maxBytes` of an 8/16-bit PCM stream, read lazily in 64 KiB
    * blocks; a block's trailing partial sample is dropped. None for
    * encodings the JVM can't hand us as 8/16-bit PCM (a-law, float,
    * 24-bit...). */
  private def pcmSamples(in: AudioInputStream, maxBytes: Int)
      : Option[Iterator[Double]] = {
    val fmt = in.getFormat
    val bits = fmt.getSampleSizeInBits
    val unsigned = fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
    val pcm = unsigned || fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED
    if (!pcm || (bits != 8 && bits != 16)) None
    else Some(new Iterator[Double] {
      private val buf = new Array[Byte](65536)
      private val step = bits / 8
      private var n = in.read(buf, 0, math.min(buf.length, maxBytes))
      private var readTotal = 0
      private var i = 0
      private def whole = if (n > 0) n - n % step else 0
      def hasNext: Boolean = {
        while (i >= whole && n > 0) {
          readTotal += n
          n =
            if (readTotal >= maxBytes) -1
            else in.read(buf, 0, math.min(buf.length, maxBytes - readTotal))
          i = 0
        }
        i < whole
      }
      def next(): Double = {
        if (!hasNext) throw new NoSuchElementException("pcmSamples")
        val v =
          if (bits == 8) {
            if (unsigned) ((buf(i) & 0xff) - 128) / 128.0 else buf(i) / 128.0
          } else {
            val (lo, hi) = if (fmt.isBigEndian) (i + 1, i) else (i, i + 1)
            val s = ((buf(hi) << 8) | (buf(lo) & 0xff)).toShort
            (if (unsigned) ((s & 0xffff) - 32768).toShort.toInt else s.toInt) /
              32768.0
          }
        i += step
        v
      }
    })
  }

  /** REAL image decode — for the formats the JDK itself ships codecs
    * for (PNG/JPEG/GIF/BMP via `javax.imageio`, no external library):
    * per row, (byte_len, width, height, mean_luma), where mean_luma is
    * the Rec.601 luminance averaged over a bounded pixel grid (≤ 64×64
    * samples, so a 10000×10000 payload costs the same as a thumbnail),
    * rounded to 4. NULL and undecodable payloads follow the scaffold's
    * contract (object doc); audio/video formats that still need an
    * external codec go through [[decodeBatched]]'s injectable slot. */
  def decodeImages(df: DataFrame, id: String, binCol: String): DataFrame =
    perPayload(df, id, binCol, byteLen = true, Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("mean_luma", DoubleType)), imageIO = true) { payload =>
      readImage(payload).map(img =>
        Row(img.getWidth, img.getHeight, meanLuma(img)))
    }

  /** ImageIO decode of one payload; None when it is undecodable. The
    * JDK codecs throw RuntimeExceptions (CMMException, AIOOBE…) on
    * corrupt payloads, not just IOException, so any non-fatal failure
    * counts. */
  private def readImage(payload: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(payload)))
    catch { case NonFatal(_) => None }

  /** Rec.601 luma of a packed RGB pixel, on the 0–255 scale. */
  private def luma(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
      0.114 * (rgb & 0xff)

  /** Sampled mean luma of a decoded frame (≤ 64×64 grid), in [0, 1]. */
  private def meanLuma(img: BufferedImage): Double = {
    val (w, h) = (img.getWidth, img.getHeight)
    val (sx, sy) = ((w + 63) / 64, (h + 63) / 64)
    var sum = 0.0; var n = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        sum += luma(img.getRGB(x, y)) / 255.0
        n += 1
        x += sx
      }
      y += sy
    }
    BigDecimal(sum / n).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
  }

  /** Bilinear `w`×`h` RGB thumbnail of a decoded image. */
  private def thumbnail(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val thumb = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = thumb.createGraphics()
    g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
      RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    thumb
  }

  /** REAL frame sampling for multi-frame containers the JDK decodes
    * itself — animated GIF, the one video-ish format with a pure-JVM
    * codec: up to `maxFrames` frames sampled EVENLY across the
    * animation (first frame always included), each actually decoded
    * and reduced to per-frame stats. This is the video-preprocessing
    * shape (probe frame count → sample → decode → featurize) running
    * on real frames; compressed video (mp4/webm) stays in the
    * documented [[decodeBatched]] injectable slot.
    *
    * Single-frame images yield one sampled frame; NULL and undecodable
    * payloads follow the scaffold's contract (object doc). GIF delta
    * frames decode at their own (possibly smaller) raster dims — the
    * honest per-frame numbers.
    *
    * Output: id, n_frames, frames array<struct<frame_idx, width,
    * height, mean_luma>> (≤ maxFrames elements). */
  def sampleFrames(df: DataFrame, id: String, binCol: String,
      maxFrames: Int = 4): DataFrame = {
    require(maxFrames >= 1, s"maxFrames must be >= 1: $maxFrames")
    val frameT = StructType(Seq(
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_luma", DoubleType)))
    perPayload(df, id, binCol, byteLen = false, Seq(
        StructField("n_frames", IntegerType),
        StructField("frames", ArrayType(frameT))), imageIO = true) { payload =>
      try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            val picks =
              if (n <= maxFrames) 0 until n
              // even sampling, first frame anchored
              else (0 until maxFrames).map(i => i * n / maxFrames)
            val frames = picks.map { idx =>
              val img = reader.read(idx)
              Row(idx, img.getWidth, img.getHeight, meanLuma(img))
            }
            Some(Row(n, frames))
          } finally reader.dispose()
        }
      } catch { case NonFatal(_) => None }
    }
  }

  /** REAL image resize — aspect-preserving thumbnail capped at
    * `maxDim` on the long side, re-encoded as PNG, again through the
    * JDK's own codecs (no external library). The preprocessing shape
    * of a vision-training pipeline: decode → bilinear resize → encode.
    * NULL and undecodable payloads follow the scaffold's contract
    * (object doc). Output: id, width, height (thumbnail dims), thumb_png
    * binary. */
  def resizeImages(df: DataFrame, id: String, binCol: String,
      maxDim: Int = 64): DataFrame = {
    require(maxDim >= 1, s"maxDim must be >= 1: $maxDim")
    perPayload(df, id, binCol, byteLen = false, Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("thumb_png", BinaryType)), imageIO = true) { payload =>
      readImage(payload).map { img =>
        val scale =
          math.min(1.0, maxDim.toDouble / math.max(img.getWidth, img.getHeight))
        val (w, h) = (math.max(1, math.round(img.getWidth * scale).toInt),
          math.max(1, math.round(img.getHeight * scale).toInt))
        val bos = new ByteArrayOutputStream()
        ImageIO.write(thumbnail(img, w, h), "png", bos)
        Row(w, h, bos.toByteArray)
      }
    }
  }

  /** A 64-bit signature from 64 bit tests, packed row-major: test 0 →
    * bit 63. */
  private def packBits(bit: Int => Boolean): Long =
    (0 until 64).foldLeft(0L)((h, i) => if (bit(i)) h | (1L << (63 - i)) else h)

  /** REAL perceptual image hash (average hash): decode → 8×8 bilinear
    * grayscale thumbnail → 64-bit signature, bit = pixel luma at or
    * above the thumbnail mean, packed row-major (pixel 0 → bit 63).
    * Near-identical images — re-encodes, format changes, mild
    * resizes/brightness shifts — land within a few Hamming bits, so
    * the signature feeds the same pigeonhole-banding machinery as text
    * SimHash ([[imageNearDups]]). Known aHash limit: uniform images
    * all hash to the same all-ones signature regardless of color —
    * block on `contentMeta`'s md5 first if exact-byte dups dominate.
    * NULL and undecodable payloads follow the scaffold's contract
    * (object doc). Output: id, byte_len, ahash (long). */
  def imageAHash(df: DataFrame, id: String, binCol: String): DataFrame =
    perPayload(df, id, binCol, byteLen = true,
        Seq(StructField("ahash", LongType)), imageIO = true) { payload =>
      readImage(payload).map { img =>
        val thumb = thumbnail(img, 8, 8)
        val l = Array.tabulate(64)(i => luma(thumb.getRGB(i % 8, i / 8)))
        val mean = l.sum / 64
        Row(packBits(i => l(i) >= mean))
      }
    }

  /** REAL difference hash (dHash) — [[imageAHash]]'s gradient
    * sibling: 9×8 bilinear grayscale, bit = luma[x] < luma[x+1] per
    * row (64 horizontal gradients), packed row-major. Gradients
    * survive global brightness/contrast shifts that move aHash's mean
    * threshold, and a uniform image hashes to all-zeros instead of
    * aHash's degenerate all-ones — the standard production pairing is
    * "band on dHash, verify on aHash ∧ dHash". Output: id, byte_len,
    * dhash (long). */
  def imageDHash(df: DataFrame, id: String, binCol: String): DataFrame =
    perPayload(df, id, binCol, byteLen = true,
        Seq(StructField("dhash", LongType)), imageIO = true) { payload =>
      readImage(payload).map { img =>
        val thumb = thumbnail(img, 9, 8)
        def l(x: Int, y: Int): Double = luma(thumb.getRGB(x, y))
        Row(packBits(i => l(i % 8, i / 8) < l(i % 8 + 1, i / 8)))
      }
    }

  /** Near-duplicate IMAGES via aHash + Hamming banding — the visual
    * twin of text SimHash dedup, end-to-end real in this environment
    * (JDK codecs): [[imageAHash]] per payload, then
    * `Dedup.sigHammingPairs` bands the 64-bit signatures so only
    * same-band candidates pair (never all-pairs). Undecodable payloads
    * drop out (no signature → no pairs). Output: id_a < id_b,
    * hamming. */
  def imageNearDups(df: DataFrame, id: String, binCol: String,
      maxDist: Int = 3, maxBucket: Int = 1000): DataFrame =
    Dedup.sigHammingPairs(
      imageAHash(df, id, binCol).where(col("ahash").isNotNull),
      id, "ahash", 64, maxDist, maxBucket)

  /** Per-frame audio features over REAL WAV/AIFF PCM — the
    * VAD/silence-detection prep a speech-curation pipeline runs
    * before segmenting: fixed `frameMs` windows, per frame the
    * full-scale RMS and the zero-crossing RATE (fraction of adjacent
    * sample pairs that change sign — high for noise/fricatives, low
    * for voiced speech/silence; RMS ≈ 0 marks trimmable silence).
    * Channels pool into one statistic per frame (the [[pcmRms]]
    * convention); trailing partial frames are emitted with their true
    * n_samples. Non-PCM, undecodable and NULL payloads emit NO frame
    * rows (join back to [[decodeAudio]] for their NULL-metadata row).
    * Output: id, frame_idx, n_samples, rms, zcr (both rounded 4). */
  def audioFrameFeatures(df: DataFrame, id: String, binCol: String,
      frameMs: Int = 25, maxSampleBytes: Int = 1 << 20): DataFrame = {
    require(frameMs >= 1, s"frameMs must be >= 1: $frameMs")
    perPayload(df, id, binCol, byteLen = false, Seq(
        StructField("frame_idx", LongType),
        StructField("n_samples", LongType),
        StructField("rms", DoubleType),
        StructField("zcr", DoubleType)), keepRow = false) { payload =>
      readAudio(payload) { in =>
        val fmt = in.getFormat
        val perFrame = math.max(1,
          (fmt.getSampleRate * fmt.getChannels * frameMs / 1000.0).toInt)
        pcmSamples(in, maxSampleBytes).iterator.flatMap(_.grouped(perFrame))
          .zipWithIndex.map { case (fr, idx) =>
            val n = fr.length
            val rms = math.sqrt(fr.map(v => v * v).sum / n)
            val crossings = fr.iterator.sliding(2).withPartial(false)
              .count(p => (p.head < 0) != (p(1) < 0))
            val zcr = if (n < 2) 0.0 else crossings.toDouble / (n - 1)
            Row(idx.toLong, n.toLong, math.rint(rms * 10000) / 10000,
              math.rint(zcr * 10000) / 10000)
          }.toVector
      }.getOrElse(Vector.empty)
    }
  }

  /** Energy-based audio segmentation (VAD-ish) over a frame table —
    * the silence-trim / speech-extract pass of an audio curation
    * pipeline: maximal runs of consecutive frames whose `rms` ≥
    * `threshold` become segments. Takes ANY (id, frame_idx, rms)
    * frame, usually [[audioFrameFeatures]]'s output — the op itself
    * is pure relational island detection (one per-doc window ordered
    * by frame_idx + one groupBy), so it replays in plain SQL and an
    * oracle can verify it without decoding audio (q_energy_segments
    * runs it over a deterministic synthetic frame table; the REAL
    * tone/silence/tone WAV path is spec-pinned end to end).
    *
    * Output: id, seg_idx (0-based among ACTIVE segments), frame_start
    * (inclusive) / frame_end (exclusive), n_frames, mean_rms. An
    * all-silent doc yields no row. Scale: the window partitions by
    * doc id and frames-per-doc is bounded by the decode prefix cap
    * (`maxSampleBytes`), so there is no single-task sort risk. */
  def energySegments(frames: DataFrame, id: String = "id",
      threshold: Double = 0.01): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("frame_idx"))
    val act = col("rms") >= threshold
    frames
      .withColumn("__start", (act &&
        !coalesce(lag(act, 1).over(w), lit(false))).cast("long"))
      .withColumn("__seg",
        sum(col("__start")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .where(act)
      .groupBy(col(id), col("__seg"))
      .agg(
        min(col("frame_idx")).as("frame_start"),
        (max(col("frame_idx")) + 1).as("frame_end"),
        count(lit(1)).as("n_frames"),
        avg(col("rms")).as("mean_rms"))
      .withColumn("seg_idx", col("__seg") - 1)
      .drop("__seg")
  }

  /** Content-defined chunk fingerprints (Gear/FastCDC family, native
    * codegen'd expression): boundaries depend on CONTENT, so an edit
    * only perturbs the chunk it lands in — the storage/transfer dedup
    * primitive fixed-stride [[sampleChunks]] can't be. Expected chunk
    * ≈ 2^maskBits bytes. */
  def cdcChunks(bin: Column, maskBits: Int = 10, minLen: Int = 64,
      maxLen: Int = 65536): Column =
    org.apache.spark.sql.graft.CatalystBridge
      .gearChunks(bin, maskBits, minLen, maxLen)

  /** Corpus-level chunk-dedup estimate — "how much smaller is this
    * blob store with content-addressed chunks": one explode + one
    * aggregate. Output 1 row: n_payloads, n_chunks, n_distinct_chunks,
    * dedup_ratio (distinct/total, rounded 4). */
  def chunkDedupStats(df: DataFrame, binCol: String,
      maskBits: Int = 10, minLen: Int = 64, maxLen: Int = 65536): DataFrame =
    df.select(explode(cdcChunks(col(binCol), maskBits, minLen, maxLen))
        .as("ch"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("n_distinct_chunks"))
      .crossJoin(broadcast(
        df.agg(count(lit(1)).as("n_payloads"))))
      .select(col("n_payloads"), col("n_chunks"), col("n_distinct_chunks"),
        round(col("n_distinct_chunks").cast("double") /
          col("n_chunks").cast("double"), 4).as("dedup_ratio"))

  /** Full multimodal prep pipeline over a table with a binary payload:
    * metadata + chunk fingerprints + stub features, flattened for easy
    * downstream use. */
  def prepare(df: DataFrame, id: String, binCol: String,
      embedDim: Int = 8): DataFrame =
    df.select(col(id), contentMeta(col(binCol)).as("meta"),
        sampleChunks(col(binCol)).as("chunks"),
        fakeEmbedding(col(binCol), embedDim).as("features"))
      .select(col(id), col("meta.byte_len").as("byte_len"),
        col("meta.format").as("format"),
        col("meta.content_md5").as("content_md5"),
        col("meta.head_hex").as("head_hex"),
        col("chunks"), col("features"))
}
