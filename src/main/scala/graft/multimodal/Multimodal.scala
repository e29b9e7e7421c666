package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads as opaque BINARY
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample operators.
  *
  * The Spark-side plumbing (schema, batched per-partition processing,
  * partition sizing) is real, and so are ALL THREE decoders now, each
  * on a codec the JDK ships (zero extra dependencies): IMAGE via
  * javax.imageio ([[ImageCodec]], PNG/JPEG/GIF/BMP), AUDIO via
  * javax.sound.sampled ([[AudioCodec]], WAV/PCM), and VIDEO via
  * javax.imageio's multi-frame animated-GIF support ([[VideoCodec]],
  * real per-frame container delays included). Containers the JDK has
  * no codec for (MP4/AVI/MKV, MP3/OGG) need an external decoder
  * (JavaCV etc.) dropped in behind the same decode contract —
  * [[FakeCodec]] remains only as the generic opaque-bytes fixture for
  * the plumbing tests.
  *
  * Scale notes: payloads stay in executors (never collected); decode runs
  * per-partition with one codec instance per partition (mapPartitions,
  * the JVM analogue of a batched pandas UDF); metadata-only queries prune
  * the binary column at the parquet scan, so filtering by width/duration
  * never reads the bytes.
  */
object Multimodal {

  /** Canonical multimodal schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),       // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  /** Deterministic fake codec — no longer any modality's primary
    * decoder (images → [[ImageCodec]], audio → [[AudioCodec]], video →
    * [[VideoCodec]]); kept as the generic opaque-bytes fixture for the
    * plumbing tests ([[synthesize]]/[[extractFeatures]]): it "decodes"
    * a payload into statistics derived
    * only from the bytes, with the shape and cost profile of a real
    * decoder. */
  object FakeCodec {
    def decodeStats(payload: Array[Byte]): (Int, Double, Double) = {
      if (payload == null || payload.isEmpty) (0, 0.0, 0.0)
      else {
        var sum = 0L; var sumSq = 0L
        payload.foreach { b => val v = b & 0xff; sum += v; sumSq += v.toLong * v }
        val n = payload.length
        val mean = sum.toDouble / n
        (n, mean, math.sqrt(sumSq.toDouble / n - mean * mean))
      }
    }
  }

  /** REAL image codec on the JDK's javax.imageio (PNG/JPEG/GIF/BMP — no
    * extra dependencies), replacing the synthetic stub for kind=image.
    * Stats come from RASTER samples, not getRGB: getRGB routes
    * gray pixels through a gray→sRGB color-space conversion
    * (non-identity gamma curve), which would make the stats depend on
    * the color pipeline instead of the stored pixels. Intensity = mean
    * over the first 3 bands (1 band = the gray sample itself); sums are
    * exact integers with ONE division at the end, so an external SQL
    * engine can replay the arithmetic bit-for-bit. */
  object ImageCodec {
    // ImageIO's default stream cache is a temp FILE per decode — pure
    // overhead for in-memory payloads, and worker dirs may be read-only
    javax.imageio.ImageIO.setUseCache(false)

    /** (width, height, mean_intensity, stddev_intensity), or None when
      * the payload is not a decodable image (null, truncated, not an
      * image format ImageIO knows). */
    def decodeStats(payload: Array[Byte]): Option[(Int, Int, Double, Double)] = {
      if (payload == null || payload.isEmpty) return None
      // NonFatal, not just IOException: several JDK decoders throw
      // runtime exceptions (IndexOutOfBounds, NegativeArraySize…) on
      // malformed/crafted headers — at corpus scale a bad payload is
      // routine data and must never kill the job
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return None
      val r = img.getRaster
      val w = r.getWidth
      val h = r.getHeight
      // intensity bands: gray → band 0; gray+alpha (2-band LA rasters)
      // → band 0 ONLY (averaging alpha in would report (gray+255)/2 for
      // opaque pixels — silently wrong stats); RGB/RGBA → first 3
      val bands = if (r.getNumBands == 2) 1 else math.min(r.getNumBands, 3)
      var sum = 0L // of per-pixel band sums — exact
      var sumSq = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var s = 0
          var b = 0
          while (b < bands) { s += r.getSample(x, y, b); b += 1 }
          sum += s
          sumSq += s.toLong * s
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val mean = sum.toDouble / (n.toDouble * bands)
      val ex2 = sumSq.toDouble / (n.toDouble * bands * bands)
      Some((w, h, mean, math.sqrt(math.max(ex2 - mean * mean, 0.0))))
    }
  }

  /** REAL audio codec on the JDK's javax.sound.sampled (WAV/PCM, AU,
    * AIFF — no extra dependencies), mirroring [[ImageCodec]]'s
    * zero-dependency argument for images. Stats come from the decoded
    * 16-bit PCM samples with exact integer sums and ONE division at the
    * end, so an external SQL engine can replay the arithmetic
    * bit-for-bit (the q63 oracle does). */
  object AudioCodec {
    /** (n_samples, duration_ms, mean_sample, rms) over ALL channels'
      * interleaved samples, or None when the payload is not a decodable
      * 16-bit PCM stream (null, truncated, unknown container, float or
      * 8/24-bit encodings). duration_ms floors frames*1000/rate. */
    def decodeStats(payload: Array[Byte]): Option[(Long, Long, Double, Double)] = {
      if (payload == null || payload.isEmpty) return None
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = ais.getFormat
          // only signed 16-bit integer PCM: other widths would need a
          // per-width sign/scale path — reject instead of mis-decoding
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
              fmt.getSampleSizeInBits != 16) return None
          val bytes = ais.readAllBytes()
          val channels = fmt.getChannels
          // the sample loop below strides at exactly 2 bytes/sample; if
          // the reported frame size ever disagrees (the JDK's WAV parser
          // normalizes PCM frame size to channels*bits/8 today, but
          // other SPI providers — or a future JDK — may surface a padded
          // blockAlign verbatim), reject instead of reading pad bytes as
          // samples — same policy as the width check above
          val frameSize = fmt.getFrameSize
          if (frameSize != channels * 2) return None
          val frames = bytes.length / frameSize
          val nSamp = frames.toLong * channels
          val big = fmt.isBigEndian
          var sum = 0L
          var sumSq = 0L
          var i = 0L
          while (i < nSamp) {
            val off = (i * 2).toInt
            val s =
              if (big) ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort
              else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
            sum += s
            sumSq += s.toLong * s
            i += 1
          }
          val rate = fmt.getSampleRate.toLong
          val durMs = if (rate > 0) frames.toLong * 1000L / rate else 0L
          val mean = if (nSamp > 0) sum.toDouble / nSamp else 0.0
          val rms = if (nSamp > 0) math.sqrt(sumSq.toDouble / nSamp) else 0.0
          Some((nSamp, durMs, mean, rms))
        } finally ais.close()
      } catch {
        // UnsupportedAudioFileException on non-audio bytes, plus the
        // same malformed-header runtime exceptions as ImageCodec — a
        // bad payload is routine data at corpus scale, never job-fatal
        case scala.util.control.NonFatal(_) => None
      }
    }
  }

  /** REAL video codec on the JDK's javax.imageio ANIMATED-GIF support —
    * the one multi-frame video container the JDK can both write
    * (`ImageWriter.writeToSequence`) and read (`getNumImages` +
    * per-frame `read`/`getImageMetadata`) with zero extra dependencies.
    * Frame timing is real container metadata: each frame's
    * GraphicControlExtension `delayTime` (centiseconds, per the GIF89a
    * spec) is read back from `javax_imageio_gif_image_1.0` metadata, so
    * duration and frame offsets come from the file, not a caller knob.
    *
    * Intensity arithmetic mirrors [[ImageCodec]]: exact integer sums
    * with one division at the end. GIF frames decode to palette-indexed
    * rasters, so samples go through the frame's IndexColorModel (a
    * direct table lookup — no color-space conversion, unlike getRGB on
    * gray images) and intensity = mean of the looked-up R,G,B. MJPEG /
    * MP4 / AVI have no JDK codec and still need an external decoder —
    * that boundary is now exactly "containers the JDK ships a codec
    * for", the same rule images and audio follow. */
  object VideoCodec {
    // same rationale as ImageCodec: the default stream cache is a temp
    // FILE per decode — pure overhead, and worker tmp may be read-only
    javax.imageio.ImageIO.setUseCache(false)

    // one reader per executor thread, reused across payloads: the
    // registry lookup + reader construction dominated per-video decode
    // cost at corpus scale (measured ~2 ms/video before, ScaleBench).
    // setInput discards all per-stream state, so a malformed previous
    // payload cannot poison the next decode; readers are never disposed
    // (they die with their thread).
    private val readerTL = new ThreadLocal[javax.imageio.ImageReader]() {
      override def initialValue(): javax.imageio.ImageReader = {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
        if (it.hasNext) it.next() else null
      }
    }

    /** Per-frame centisecond delay from GIF image metadata (0 when the
      * frame carries no GraphicControlExtension, per the spec). */
    private def delayCs(meta: javax.imageio.metadata.IIOMetadata): Int = {
      val root = meta.getAsTree("javax_imageio_gif_image_1.0")
      val kids = root.getChildNodes
      var i = 0
      while (i < kids.getLength) {
        val n = kids.item(i)
        if (n.getNodeName == "GraphicControlExtension")
          return scala.util.Try(n.getAttributes.getNamedItem("delayTime")
            .getNodeValue.toInt).getOrElse(0)
        i += 1
      }
      0
    }

    private def frameStats(img: java.awt.image.BufferedImage): (Double, Double) = {
      val r = img.getRaster
      val w = r.getWidth
      val h = r.getHeight
      var sum = 0L
      var sumSq = 0L
      img.getColorModel match {
        case icm: java.awt.image.IndexColorModel =>
          // palette lookup is exact; precompute index → r+g+b once
          val lut = new Array[Int](icm.getMapSize)
          var j = 0
          while (j < lut.length) {
            lut(j) = icm.getRed(j) + icm.getGreen(j) + icm.getBlue(j)
            j += 1
          }
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val s = lut(r.getSample(x, y, 0))
              sum += s
              sumSq += s.toLong * s
              x += 1
            }
            y += 1
          }
        case _ => // non-indexed frame: ImageCodec's band rule
          val bands = if (r.getNumBands == 2) 1 else math.min(r.getNumBands, 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var s = 0
              var b = 0
              while (b < bands) { s += 3 / bands * r.getSample(x, y, b); b += 1 }
              sum += s
              sumSq += s.toLong * s
              x += 1
            }
            y += 1
          }
      }
      val n = w.toLong * h
      val mean = sum.toDouble / (n.toDouble * 3)
      val ex2 = sumSq.toDouble / (n.toDouble * 9)
      (mean, math.sqrt(math.max(ex2 - mean * mean, 0.0)))
    }

    /** Decode an animated GIF: (n_frames, width, height, duration_ms,
      * sampled frames as (frame_idx, frame_ms, mean, stddev) for every
      * `every`-th frame). duration_ms sums ALL frames' container
      * delays; frame_ms is the frame's real start offset (cumulative
      * delay). None when the payload is not a GIF the reader accepts —
      * bad payloads are routine data, never job-fatal. */
    def decodeStats(payload: Array[Byte], every: Int)
        : Option[(Int, Int, Int, Long, Seq[(Int, Long, Double, Double)])] = {
      if (payload == null || payload.isEmpty || every < 1) return None
      val reader = readerTL.get()
      if (reader == null) return None
      try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          reader.setInput(iis, false, false)
          val nFrames = reader.getNumImages(true)
          if (nFrames < 1) return None
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          var tMs = 0L
          val out = Seq.newBuilder[(Int, Long, Double, Double)]
          var i = 0
          while (i < nFrames) {
            if (i % every == 0) {
              val (mean, std) = frameStats(reader.read(i))
              out += ((i, tMs, mean, std))
            }
            tMs += delayCs(reader.getImageMetadata(i)) * 10L
            i += 1
          }
          Some((nFrames, w, h, tMs, out.result()))
        } finally {
          // drop the stream reference so the reusable reader never pins
          // a dead payload's buffer between rows
          reader.setInput(null)
          iis.close()
        }
      } catch {
        // the GIF reader throws runtime exceptions on malformed headers
        // just like the still-image decoders — same contract
        case scala.util.control.NonFatal(_) => None
      }
    }
  }

  /** Build a synthetic media table from any keyed table (test fixture:
    * deterministic payload bytes from the key — byte i = (k + i²) mod
    * 256, a closed form any SQL engine can replay, so payload-derived
    * stats are oracle-checkable end-to-end). */
  def synthesize(df: DataFrame, keyCol: String, kind: String = "image",
      bytesPerRow: Int = 4096): DataFrame = {
    val genPayload = udf { (k: Long) =>
      val a = new Array[Byte](bytesPerRow)
      var i = 0
      while (i < bytesPerRow) {
        a(i) = ((k + i.toLong * i) % 256).toByte
        i += 1
      }
      a
    }
    df.select(col(keyCol).cast("long").as("media_id"))
      .withColumn("kind", lit(kind))
      .withColumn("payload", genPayload(col("media_id")))
      .withColumn("meta", struct(
        lit("application/x-fake").as("mime"),
        (col("media_id") % 640 + 32).cast("int").as("width"),
        (col("media_id") % 480 + 32).cast("int").as("height"),
        (col("media_id") % 60000).as("duration_ms")))
  }

  /** Media table whose payloads are ACTUAL PNGs: grayscale w×h, pixel
    * (x, y) = (key + x + y) mod 256 — a closed form an external SQL
    * engine can replay against the DECODED stats, so the real-codec
    * path is oracle-checkable end to end (encode → PNG bytes → ImageIO
    * decode → pixel stats == formula stats). PNG is lossless and
    * TYPE_BYTE_GRAY raster samples round-trip exactly. */
  def synthesizeImages(df: DataFrame, keyCol: String,
      w: Int = 32, h: Int = 24): DataFrame = {
    val gen = udf { (k: Long) =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          r.setSample(x, y, 0, ((k + x + y) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      // explicit memory-backed stream: the bare write(…, OutputStream)
      // overload consults ImageIO's global cache flag, and an executor
      // running only this UDF never touches ImageCodec's initializer
      // that disables it — the default FileCacheImageOutputStream then
      // costs a temp FILE per row and fails on read-only worker tmp dirs
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
      bos.toByteArray
    }
    df.select(col(keyCol).cast("long").as("media_id"))
      .withColumn("kind", lit("image"))
      .withColumn("payload", gen(col("media_id")))
      .withColumn("meta", struct(
        lit("image/png").as("mime"),
        lit(w).cast("int").as("width"), lit(h).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")))
  }

  /** Media table whose payloads are ACTUAL WAV files: 16-bit signed
    * little-endian mono PCM, sample i = ((key*7 + i²) mod 65536) −
    * 32768 — a closed form an external SQL engine can replay against
    * the DECODED stats, so the real-codec path is oracle-checkable end
    * to end (encode → WAV bytes → AudioSystem decode → sample stats ==
    * formula stats). WAV/PCM is lossless and round-trips exactly. */
  def synthesizeAudio(df: DataFrame, keyCol: String,
      sampleRate: Int = 8000, nSamples: Int = 2000): DataFrame = {
    val gen = udf { (k: Long) =>
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = (((k * 7L + i.toLong * i) % 65536L) - 32768L).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    df.select(col(keyCol).cast("long").as("media_id"))
      .withColumn("kind", lit("audio"))
      .withColumn("payload", gen(col("media_id")))
      .withColumn("meta", struct(
        lit("audio/wav").as("mime"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        lit(nSamples.toLong * 1000 / sampleRate).as("duration_ms")))
  }

  /** Decode audio payloads with the REAL codec ([[AudioCodec]]): adds
    * n_samples / audio_duration_ms / mean_sample / rms from the decoded
    * PCM. Rows whose kind is not audio, or whose payload does not
    * decode, carry NULL stats instead of failing the job — same
    * bad-data-is-routine contract as [[decodeImages]]. Row-local. */
  def decodeAudio(df: DataFrame): DataFrame = {
    val dec = udf { (p: Array[Byte]) => AudioCodec.decodeStats(p) }
    df.withColumn("__aud", when(col("kind") === "audio", dec(col("payload"))))
      .withColumn("n_samples", col("__aud._1"))
      .withColumn("audio_duration_ms", col("__aud._2"))
      .withColumn("mean_sample", col("__aud._3"))
      .withColumn("rms", col("__aud._4"))
      .drop("__aud")
  }

  /** Media table whose payloads are ACTUAL animated GIFs: `nFrames`
    * grayscale w×h frames, pixel (x, y) of frame f = (key + 17·f + x +
    * y) mod 256, each frame stamped with a real GraphicControlExtension
    * delay of `delayCs` centiseconds — a closed form an external SQL
    * engine can replay against the DECODED per-frame stats, so the
    * real-codec path is oracle-checkable end to end (encode → GIF bytes
    * → ImageIO sequence decode → frame stats == formula stats).
    *
    * Frames are TYPE_BYTE_INDEXED over an identity gray palette (index
    * i → rgb(i,i,i)): the GIF writer then stores palette + indices
    * VERBATIM (no quantization — 256 grays fit the 256-entry color
    * table exactly), which is what makes the round-trip lossless. */
  /** Identity gray palette shared by every synthesized frame. */
  private lazy val grayIcm: java.awt.image.IndexColorModel = {
    val pal = Array.tabulate(256)(i => i.toByte)
    new java.awt.image.IndexColorModel(8, 256, pal, pal, pal)
  }

  /** One GIF writer per executor thread (same measured rationale as
    * VideoCodec.readerTL: registry lookup + construction per row
    * dominated the cost; setOutput discards prior state). */
  private val gifWriterTL = new ThreadLocal[javax.imageio.ImageWriter]() {
    override def initialValue(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
  }

  def synthesizeVideos(df: DataFrame, keyCol: String,
      w: Int = 16, h: Int = 12, nFrames: Int = 8,
      delayCs: Int = 4): DataFrame = {
    val gen = udf { (k: Long) =>
      val writer = gifWriterTL.get()
      val bos = new java.io.ByteArrayOutputStream()
      // memory-backed stream for the same reason as synthesizeImages:
      // the default cache is a temp FILE per row
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        // ONE image and ONE metadata serve all frames: writeToSequence
        // encodes during the call, so mutating the raster for the next
        // frame is safe, and the per-frame metadata (delay) is identical
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayIcm)
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), null)
        val fmt = meta.getNativeMetadataFormatName // javax_imageio_gif_image_1.0
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        // find-or-create: the default tree may or may not already
        // carry a GraphicControlExtension node, and the format allows
        // at most one
        val kids = root.getChildNodes
        var gce: javax.imageio.metadata.IIOMetadataNode = null
        var i = 0
        while (i < kids.getLength && gce == null) {
          if (kids.item(i).getNodeName == "GraphicControlExtension")
            gce = kids.item(i).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          i += 1
        }
        if (gce == null) {
          gce = new javax.imageio.metadata.IIOMetadataNode(
            "GraphicControlExtension")
          root.appendChild(gce)
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        gce.setAttribute("delayTime", delayCs.toString)
        meta.setFromTree(fmt, root)
        val r = img.getRaster
        var f = 0
        while (f < nFrames) {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              r.setSample(x, y, 0, ((k + 17L * f + x + y) % 256).toInt)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        // reset() (not just setOutput(null)): restores the writer's
        // initial state INCLUDING the in-sequence flag, so a row that
        // failed mid-writeToSequence cannot poison the thread's next
        // row; the instance itself stays cached
        writer.reset()
        ios.close()
      }
      bos.toByteArray
    }
    df.select(col(keyCol).cast("long").as("media_id"))
      .withColumn("kind", lit("video"))
      .withColumn("payload", gen(col("media_id")))
      .withColumn("meta", struct(
        lit("image/gif").as("mime"),
        lit(w).cast("int").as("width"), lit(h).cast("int").as("height"),
        (lit(nFrames.toLong) * delayCs * 10).as("duration_ms")))
  }

  /** Decode video payloads with the REAL codec ([[VideoCodec]]) and
    * frame-sample in the same pass: one output row per `every`-th
    * frame, carrying container metadata (n_frames / vid_width /
    * vid_height / video_duration_ms from the file, not the meta column)
    * and the frame's real start offset + intensity stats. Rows whose
    * kind is not video, or whose payload does not decode, stay in the
    * output with NULL stats (explode_outer) — same bad-data-is-routine
    * contract as [[decodeImages]]/[[decodeAudio]]. Row-local: payloads
    * never shuffle, the explode multiplies only decoded STATS rows. */
  def decodeVideos(df: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, s"decodeVideos: every must be >= 1, got $every")
    val dec = udf { (p: Array[Byte]) => VideoCodec.decodeStats(p, every) }
    df.withColumn("__vid", when(col("kind") === "video", dec(col("payload"))))
      .withColumn("n_frames", col("__vid._1"))
      .withColumn("vid_width", col("__vid._2"))
      .withColumn("vid_height", col("__vid._3"))
      .withColumn("video_duration_ms", col("__vid._4"))
      .withColumn("__frame", explode_outer(col("__vid._5")))
      .withColumn("frame_idx", col("__frame._1"))
      .withColumn("frame_ms", col("__frame._2"))
      .withColumn("frame_mean", col("__frame._3"))
      .withColumn("frame_stddev", col("__frame._4"))
      .drop("__vid", "__frame")
  }

  /** Decode image payloads with the REAL codec ([[ImageCodec]]): adds
    * img_width / img_height / mean_intensity / stddev_intensity from
    * the decoded pixels. Rows whose kind is not image, or whose payload
    * does not decode, carry NULL stats instead of failing the job — at
    * 100 TB a corrupt image is routine data, not an error. Row-local. */
  def decodeImages(df: DataFrame): DataFrame = {
    val dec = udf { (p: Array[Byte]) => ImageCodec.decodeStats(p) }
    df.withColumn("__img", when(col("kind") === "image", dec(col("payload"))))
      .withColumn("img_width", col("__img._1"))
      .withColumn("img_height", col("__img._2"))
      .withColumn("mean_intensity", col("__img._3"))
      .withColumn("stddev_intensity", col("__img._4"))
      .drop("__img")
  }

  /** Decode / feature-extract over the payload column. The decoder runs
    * inside a codegen'd UDF; a real codec would live in a
    * lazy-per-executor singleton (the standard heavy-native-resource
    * pattern) so initialization happens once per executor, not per row —
    * FakeCodec is stateless so nothing to initialize here. */
  def extractFeatures(df: DataFrame): DataFrame = {
    val statsUdf = udf { (p: Array[Byte]) =>
      val (n, mean, std) = FakeCodec.decodeStats(p)
      (n, mean, std)
    }
    df.withColumn("__stats", statsUdf(col("payload")))
      .withColumn("byte_count", col("__stats._1"))
      .withColumn("mean_intensity", col("__stats._2"))
      .withColumn("stddev_intensity", col("__stats._3"))
      .drop("__stats")
  }

  /** Content key for exact media dedup: md5 over the payload's hex
    * spelling (not the raw bytes) so an external SQL oracle without a
    * blob-md5 can reproduce it — Spark's hex() is uppercase; match with
    * upper() on the oracle side. Row-local and codegen'd. */
  def contentKey(payload: Column): Column = md5(hex(payload))

  /** Exact media dedup groups: one row per distinct payload with the
    * minimum media_id as the keeper and the copy count — the binary
    * analogue of Dedup.exactGroups (a training-data pipeline dedups
    * images/audio by content hash before any decode). One groupBy on
    * the 32-char key; payload bytes never shuffle (the key is computed
    * in the scan projection). */
  def dedupGroups(df: DataFrame): DataFrame =
    df.select(col("media_id"), contentKey(col("payload")).as("content_key"))
      .groupBy("content_key")
      .agg(min("media_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Frame sampling (video): emit one row per sampled frame offset —
    * pure plan-side explode; the decoder stub extracts per-frame bytes. */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame = {
    // a non-positive step would fail per-row inside sequence() mid-job —
    // reject it at plan build with the knob named
    require(everyMs > 0, s"sampleFrames: everyMs must be > 0, got $everyMs")
    val frame = udf { (p: Array[Byte], offsetMs: Long) =>
      if (p == null || p.isEmpty) Array.empty[Byte]
      else {
        val start = ((offsetMs % math.max(p.length, 1)).toInt)
        p.slice(start, math.min(start + 256, p.length))
      }
    }
    // explode_outer: media without a duration (ingested rather than
    // synthesized) stay in the output with a NULL frame — a plain
    // explode would silently drop them from the result
    df.withColumn("frame_ms",
        explode_outer(sequence(lit(0L), col("meta.duration_ms"), lit(everyMs))))
      .withColumn("frame",
        when(col("frame_ms").isNull, lit(null).cast("binary"))
          .otherwise(frame(col("payload"), col("frame_ms"))))
      .drop("payload")
  }
}
