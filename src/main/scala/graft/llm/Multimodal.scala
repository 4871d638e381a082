package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal columns: media payloads ride as opaque `binary` columns
  * with typed metadata, decoded in batched `mapPartitions` passes (the
  * Spark analog of a Pandas-UDF batch — per-partition init amortizes a
  * model load or codec context).
  *
  * Still images (JPEG/PNG/BMP/GIF) decode for REAL through the JDK's
  * `javax.imageio` — dimensions and pixel statistics come from the
  * actual bitmap. MJPEG-in-AVI video decodes for REAL (RIFF walk +
  * per-frame ImageIO). PCM16 WAV audio decodes for REAL (RIFF walk +
  * little-endian sample parse, integer-exact features). Only payloads
  * none of those readers accept (foreign codecs — no AV libraries ship
  * in this environment) fall back to `decodeStub`, which derives
  * deterministic metadata from the bytes so that path stays testable
  * end-to-end; swap the stub for a JNI/javacv decoder without touching
  * the plan.
  */
object Multimodal {

  final case class MediaMeta(
      id: Long,
      byteLen: Long,
      contentMd5: String,
      width: Int,
      height: Int,
      nFrames: Int,
      kind: String)

  /** Real decoded-bitmap metadata: dimensions, container format, and
    * per-channel mean pixel value (integer floor of the channel sum /
    * pixel count — exact for the solid fixtures, deterministic for any
    * bitmap).
    */
  final case class ImageMeta(
      id: Long,
      width: Int,
      height: Int,
      format: String,
      avgR: Int,
      avgG: Int,
      avgB: Int,
      nPixels: Long)

  final case class MediaEmbed(id: Long, embedding: Array[Float])

  final case class ResizedMedia(id: Long, byteLen: Long, contentMd5: String)

  final case class ResizedImage(
      id: Long, width: Int, height: Int, avgR: Int, avgG: Int, avgB: Int)

  /** Magic-byte sniff for the still-image formats the JDK decodes.
    * (Same signatures the carve registry anchors on —
    * reference `config/default.yml` jpeg/png/gif/bmp entries.)
    */
  def sniffImageFormat(p: Array[Byte]): Option[String] =
    if (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 &&
      (p(2) & 0xff) == 0xff) Some("jpeg")
    else if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' &&
      p(3) == 'G') Some("png")
    else if (p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8')
      Some("gif")
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Some("bmp")
    else None

  /** Decode one still image through `javax.imageio`; None when the
    * payload isn't a sniffable image or the codec rejects it (truncated
    * or synthetic-header bytes — e.g. the carve fixtures' minimal
    * samples, which are structurally valid but not decodable).
    */
  def decodeImage(id: Long, payload: Array[Byte]): Option[ImageMeta] =
    sniffImageFormat(payload).flatMap { fmt =>
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
        catch { case _: Exception => None }
      img.map { bi =>
        val w = bi.getWidth
        val h = bi.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val px = bi.getRGB(x, y)
            sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        ImageMeta(id, w, h, fmt, (sr / n).toInt, (sg / n).toInt, (sb / n).toInt, n)
      }
    }

  /** One decoded video frame: index in stream order plus the same real
    * bitmap statistics [[ImageMeta]] carries for stills.
    */
  final case class FrameMeta(
      id: Long,
      frame_idx: Long,
      width: Int,
      height: Int,
      avgR: Int,
      avgG: Int,
      avgB: Int)

  /** RIFF-AVI sniff: 'RIFF' <size> 'AVI '. */
  def isAvi(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

  /** Walk a RIFF-AVI container and return the video frame payloads (the
    * movi LIST's 00dc/00db chunk bodies, stream order). Pure-JVM RIFF
    * parse — tolerant of missing idx1 and odd-length padding; malformed
    * containers return the frames parsed so far (carve-style salvage).
    */
  def aviFramePayloads(p: Array[Byte]): Seq[Array[Byte]] = {
    def le32(off: Int): Long =
      if (off + 4 > p.length) -1L
      else (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    def fcc(off: Int): String =
      if (off + 4 > p.length) ""
      else new String(p, off, 4, "ISO-8859-1")
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (!isAvi(p)) return frames.toSeq
    val riffEnd = math.min(p.length.toLong, 8L + le32(4)).toInt
    def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
      var o = from
      while (o + 8 <= to) {
        val id = fcc(o)
        val len = le32(o + 4)
        if (len < 0) return
        val declaredEnd = o + 8L + len
        if (id == "LIST") {
          // a truncated trailing LIST still yields its intact children —
          // carve-style salvage — by clamping the walk to the buffer
          val listType = fcc(o + 8)
          walk(o + 12, math.min(declaredEnd, to.toLong).toInt,
            inMovi || listType == "movi")
        } else if (inMovi && len > 0 && declaredEnd <= to &&
          (id.endsWith("dc") || id.endsWith("db"))) {
          frames += java.util.Arrays.copyOfRange(p, o + 8, declaredEnd.toInt)
        }
        if (declaredEnd > to) return // ran off the truncated tail
        o = (declaredEnd + (len & 1L)).toInt // word-aligned
      }
    }
    // top-level chunks start after the RIFF header + 'AVI ' form type
    walk(12, riffEnd, inMovi = false)
    frames.toSeq
  }

  /** REAL video frame sampling: parse each RIFF-AVI payload, take every
    * `stride`-th frame, and decode it through `javax.imageio` (MJPEG
    * frames are plain JPEGs — the JDK decodes them natively). Only the
    * SAMPLED frames pay a decode, exactly like a production frame
    * sampler; non-AVI or undecodable payloads drop. One batched
    * mapPartitions pass — a narrow scan at any corpus size.
    */
  def sampleAviFrames(spark: SparkSession, media: DataFrame, idCol: String,
                      payloadCol: String, stride: Int): Dataset[FrameMeta] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          aviFramePayloads(p).zipWithIndex
            .collect { case (f, i) if i % stride == 0 =>
              decodeImage(id, f).map(m =>
                FrameMeta(id, i.toLong, m.width, m.height, m.avgR, m.avgG, m.avgB))
            }.flatten
        }
      }
  }

  /** Integer-exact PCM features from one decoded clip: amplitude sum,
    * energy (sum of squares), and peak — all BIGINT-safe (|sample| ≤
    * 32768 ⇒ sum_sq ≤ 2³⁰·n), so every downstream aggregation stays
    * engine-independent with zero float arithmetic.
    */
  final case class AudioMeta(
      id: Long,
      sampleRate: Int,
      channels: Int,
      nSamples: Long,
      sumAmp: Long,
      sumSq: Long,
      maxAbs: Int)

  /** One fixed-length window of PCM samples — the frame-level feature
    * row an acoustic-model pipeline trains on (energy = Σ v², exact).
    */
  final case class FrameEnergy(id: Long, frameId: Long, nInFrame: Long, energy: Long)

  /** RIFF-WAVE sniff: 'RIFF' <size> 'WAVE'. */
  def isWav(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** REAL WAV decode: walk the RIFF chunk chain (word-aligned, same
    * tolerant salvage as [[aviFramePayloads]]), require a PCM16 `fmt `
    * chunk, and parse the `data` chunk's interleaved little-endian
    * samples. None for non-WAV payloads, compressed codecs
    * (fmt != 1 / bits != 16), or a container with either chunk missing.
    */
  def decodeWavSamples(p: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (!isWav(p)) return None
    def le32(off: Int): Long =
      if (off + 4 > p.length) -1L
      else (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    def le16(off: Int): Int = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    var rate = -1; var channels = -1; var bits = -1; var fmtCode = -1
    var data: Array[Short] = null
    val riffEnd = math.min(p.length.toLong, 8L + le32(4)).toInt
    var o = 12
    var walking = true
    while (walking && o + 8 <= riffEnd) {
      val id = new String(p, o, 4, "ISO-8859-1")
      val len = le32(o + 4)
      if (len < 0 || o + 8L + len > riffEnd) {
        // tolerant salvage (the aviFramePayloads contract): a truncated
        // or overrunning trailing chunk ends the walk; fmt/data chunks
        // already parsed still count — a carved clip with a damaged
        // tail LIST/INFO must not vanish from the corpus
        walking = false
      } else {
      val body = o + 8
      if (id == "fmt " && len >= 16) {
        fmtCode = le16(body); channels = le16(body + 2)
        rate = le32(body + 4).toInt; bits = le16(body + 14)
      } else if (id == "data") {
        val n = (len / 2).toInt
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = le16(body + 2 * i).toShort; i += 1 }
        data = out
      }
      o = (body + len + (len & 1L)).toInt
      }
    }
    if (fmtCode == 1 && bits == 16 && channels > 0 && rate > 0 && data != null)
      Some((rate, channels, data))
    else None
  }

  /** Batched REAL audio decode → integer-exact clip features. Only
    * parseable PCM16 WAVs survive (the corrupt-media quality-gate
    * convention, matching [[decodeImages]]); one narrow mapPartitions
    * scan, no shuffle at any corpus size.
    */
  def decodeAudio(spark: SparkSession, media: DataFrame, idCol: String,
                  payloadCol: String): Dataset[AudioMeta] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          decodeWavSamples(p).map { case (rate, ch, samples) =>
            var sum = 0L; var sq = 0L; var peak = 0
            var i = 0
            while (i < samples.length) {
              val v = samples(i).toInt
              sum += v; sq += v.toLong * v
              val a = math.abs(v); if (a > peak) peak = a
              i += 1
            }
            AudioMeta(id, rate, ch, samples.length.toLong, sum, sq, peak)
          }
        }
      }
  }

  /** REAL frame-level feature extraction: decode each PCM16 WAV and cut
    * the interleaved sample stream into fixed `frameLen`-sample windows
    * (final partial window kept — its n_in_frame says so), emitting
    * integer-exact per-window energy. The audio analog of
    * [[sampleAviFrames]]: one narrow batched scan whose output volume is
    * samples/frameLen rows, never a shuffle.
    */
  def audioFrameEnergy(spark: SparkSession, media: DataFrame, idCol: String,
                       payloadCol: String, frameLen: Int): Dataset[FrameEnergy] = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          decodeWavSamples(p).toSeq.flatMap { case (_, _, samples) =>
            // grouped iteration, not zipWithIndex.toSeq.groupBy: the
            // boxed-tuple Seq + HashMap form held every sample of a
            // clip in memory at once (a 10-min 44.1 kHz stereo clip is
            // ~53M samples); windows need only O(frameLen) state
            samples.iterator.grouped(frameLen).zipWithIndex
              .map { case (vs, f) =>
                var e = 0L
                vs.foreach { v => val x = v.toLong; e += x * x }
                FrameEnergy(id, f.toLong, vs.length.toLong, e)
              }
          }
        }
      }
  }

  /** Leading/trailing silence trim plan: cut each decoded PCM16 WAV
    * into `frameLen`-sample windows ([[audioFrameEnergy]]), call a
    * window voiced when its energy exceeds `thrPerSample` per sample,
    * and emit the per-clip trim offsets — the speech-corpus
    * preprocessing step that drops dead air before feature extraction
    * so a 100-TB audio crawl doesn't spend model FLOPs on silence.
    *
    * Output per clip: `id, n_samples, n_frames, first_voiced,
    * last_voiced` (−1 when the clip is all silence), `trim_start,
    * trim_end` (sample offsets; an all-silent clip trims to empty) and
    * `kept_samples`. One narrow decode scan + one map-side-combinable
    * groupBy per clip — output is O(clips).
    */
  def audioSilenceTrim(spark: SparkSession, media: DataFrame, idCol: String,
                       payloadCol: String, frameLen: Int,
                       thrPerSample: Long = 0L): DataFrame = {
    require(thrPerSample >= 0, s"thrPerSample must be >= 0, got $thrPerSample")
    val frames = audioFrameEnergy(spark, media, idCol, payloadCol, frameLen).toDF()
    frames
      .withColumn("voiced_f",
        when(col("energy") > lit(thrPerSample) * col("nInFrame"), col("frameId")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("nInFrame")).as("n_samples"),
        min(col("voiced_f")).as("fv"), max(col("voiced_f")).as("lv"))
      .select(col("id"), col("n_samples"), col("n_frames"),
        coalesce(col("fv"), lit(-1L)).as("first_voiced"),
        coalesce(col("lv"), lit(-1L)).as("last_voiced"),
        coalesce(col("fv") * frameLen, col("n_samples")).as("trim_start"),
        coalesce(least((col("lv") + 1) * frameLen, col("n_samples")),
          col("n_samples")).as("trim_end"))
      .withColumn("kept_samples", col("trim_end") - col("trim_start"))
  }

  /** STUB decoder for OPAQUE payloads only — deterministic fake:
    * dimensions derived from content bytes. Still images decode for
    * real in [[decodeImage]]; MJPEG-AVI video decodes for real in
    * [[sampleAviFrames]]; this remains for foreign codecs the JDK
    * cannot read (no AV libraries in this environment).
    */
  def decodeStub(id: Long, payload: Array[Byte]): MediaMeta = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
    MediaMeta(
      id = id,
      byteLen = payload.length.toLong,
      contentMd5 = graft.carve.Hex.lower(md5),
      width = ((payload.headOption.getOrElse(0: Byte) & 0xff) % 64) + 1,
      height = ((payload.lastOption.getOrElse(0: Byte) & 0xff) % 64) + 1,
      nFrames = (payload.length % 16) + 1,
      kind = "opaque")
  }

  /** Batched decode over (id, payload) rows — dispatches per payload:
    * decodable still images go through `javax.imageio` (real width /
    * height, one frame), everything else through the video-path stub.
    */
  def decode(spark: SparkSession, media: DataFrame, idCol: String, payloadCol: String): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, payload) =>
          decodeImage(id, payload) match {
            case Some(m) =>
              val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
              MediaMeta(id, payload.length.toLong, graft.carve.Hex.lower(md5),
                m.width, m.height, nFrames = 1, kind = m.format)
            case None => decodeStub(id, payload)
          }
        }
      }
  }

  /** Batched REAL image decode: only payloads `javax.imageio` accepts
    * survive (undecodable rows drop — the quality-gate convention for a
    * corrupt media column). Emits bitmap dimensions + channel means.
    */
  def decodeImages(spark: SparkSession, media: DataFrame, idCol: String, payloadCol: String): Dataset[ImageMeta] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch => batch.flatMap { case (id, p) => decodeImage(id, p) } }
  }

  /** Deterministic 8-dim embedding from REAL decoded pixel statistics —
    * every component is a k/256 binary fraction (exact in float AND
    * double, so downstream quantization math is engine-independent):
    * channel means re-centered, dimensions, and two mixed moments.
    */
  def imageEmbedding(m: ImageMeta): Array[Float] = Array(
    (m.avgR / 256.0 - 0.5).toFloat,
    (m.avgG / 256.0 - 0.5).toFloat,
    (m.avgB / 256.0 - 0.5).toFloat,
    (m.width / 256.0).toFloat,
    (m.height / 256.0).toFloat,
    ((m.width.toLong * m.height % 256) / 256.0).toFloat,
    (((m.avgR + m.avgG + m.avgB) % 256) / 256.0 - 0.5).toFloat,
    ((m.id % 256) / 256.0 - 0.5).toFloat)

  /** Batched image → embedding bridge over REAL decoded bitmaps (the
    * multimodal entry into ANN / near-dup / quantization operators).
    * A vision encoder would replace `imageEmbedding` per batch; the
    * decode, batching, and schema are the production shape.
    */
  def embedImages(spark: SparkSession, media: DataFrame, idCol: String, payloadCol: String): Dataset[MediaEmbed] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          decodeImage(id, p).map(m => MediaEmbed(id, imageEmbedding(m)))
        }
      }
  }

  /** STUB embedder for the opaque path — deterministic fake embedding
    * from the payload's md5. Components are (byte - 128)/256 — exactly
    * representable in both float and double.
    */
  def embedStub(id: Long, payload: Array[Byte], dim: Int = 8): MediaEmbed = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
    val hex = graft.carve.Hex.lower(md5)
    val emb = Array.tabulate(dim) { j =>
      val v = Integer.parseInt(hex.substring(2 * j, 2 * j + 2), 16)
      (v / 256.0 - 0.5).toFloat
    }
    MediaEmbed(id, emb)
  }

  /** Batched embedding over opaque (id, payload) rows — the stub half;
    * real images should go through [[embedImages]].
    */
  def embed(spark: SparkSession, media: DataFrame, idCol: String, payloadCol: String,
            dim: Int = 8): Dataset[MediaEmbed] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch => batch.map { case (id, payload) => embedStub(id, payload, dim) } }
  }

  /** REAL bitmap resize: decode, scale each image to
    * (max(1, w/factor), max(1, h/factor)) on a fresh RGB raster, and
    * emit the resized dimensions + channel means. The re-encoded
    * payload would stream to the blob store exactly like carved files;
    * metadata is what flows on.
    */
  def resizeImages(spark: SparkSession, media: DataFrame, idCol: String, payloadCol: String,
                   factor: Int = 2): Dataset[ResizedImage] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          sniffImageFormat(p).flatMap { _ =>
            val in =
              try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
              catch { case _: Exception => None }
            in.map { bi =>
              val w2 = math.max(1, bi.getWidth / factor)
              val h2 = math.max(1, bi.getHeight / factor)
              val out = new java.awt.image.BufferedImage(
                w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              g.drawImage(bi, 0, 0, w2, h2, null)
              g.dispose()
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < h2) {
                var x = 0
                while (x < w2) {
                  val px = out.getRGB(x, y)
                  sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
                  x += 1
                }
                y += 1
              }
              val n = w2.toLong * h2
              ResizedImage(id, w2, h2, (sr / n).toInt, (sg / n).toInt, (sb / n).toInt)
            }
          }
        }
      }
  }

  /** STUB resize for opaque payloads — deterministic downsample keeping
    * every `stride`-th payload byte; real images go through
    * [[resizeImages]].
    */
  def resize(spark: SparkSession, media: DataFrame, idCol: String, payloadCol: String,
             stride: Int): Dataset[ResizedMedia] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, payload) =>
          val out = Iterator.range(0, payload.length, stride).map(payload(_)).toArray
          val md5 = java.security.MessageDigest.getInstance("MD5").digest(out)
          ResizedMedia(id, out.length.toLong, graft.carve.Hex.lower(md5))
        }
      }
  }

  final case class ImageDHash(id: Long, width: Int, height: Int,
                              dhashA: Long, dhashB: Long)

  final case class AudioFp(id: Long, nSamples: Long, fp: Long)

  /** 32-bit energy-delta fingerprint of one decoded PCM16 clip: samples
    * (interleaved, channel-agnostic) split into 33 frames by the
    * ASSIGNMENT rule f(i) = i·33 DIV n — the floor form both engines
    * compute identically, no boundary arithmetic — per-frame energy
    * E(f) = Σ s², and bit f = 1 iff E(f+1) > E(f) (f in 0..31). The
    * audio analogue of [[dHash]]: length- and rate-robust enough that
    * truncated/extended copies of the same signal land at small hamming
    * distance, fully integer, oracle-predictable. Clips shorter than 33
    * samples drop (a frame would be empty).
    */
  def audioFingerprint(id: Long, payload: Array[Byte]): Option[AudioFp] =
    decodeWavSamples(payload).collect { case (_, _, samples) if samples.length >= 33 =>
      val n = samples.length
      val energy = new Array[Long](33)
      var i = 0
      while (i < n) {
        val s = samples(i).toLong
        energy(((i.toLong * 33L) / n).toInt) += s * s
        i += 1
      }
      var fp = 0L
      var f = 0
      while (f < 32) {
        if (energy(f + 1) > energy(f)) fp |= 1L << f
        f += 1
      }
      AudioFp(id, n.toLong, fp)
    }

  /** Batched REAL WAV → fingerprint bridge (undecodable/too-short rows
    * drop). One narrow mapPartitions scan, zero shuffles.
    */
  def audioFingerprints(spark: SparkSession, media: DataFrame, idCol: String,
                        payloadCol: String): Dataset[AudioFp] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch => batch.flatMap { case (id, p) => audioFingerprint(id, p) } }
  }

  /** Near-duplicate pairs over any 32-bit fingerprint column: four
    * 8-bit bands ([[bandedHammingPairs]] — sign-safe, lossless for
    * hamming ≤ 3 by pigeonhole), one-popcount verification.
    */
  def fp32NearDupPairs(hashes: DataFrame, idCol: String, fpCol: String,
                       maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4-band losslessness, got $maxHamming")
    bandedHammingPairs(hashes, idCol, Seq(fpCol), bandBits = 8,
      maxHamming = maxHamming)
  }

  /** Difference hash (dHash) of one decoded bitmap: nearest-neighbor
    * sample onto a 9×8 grid (px = x·W DIV 9, py = y·H DIV 8 — integer
    * floor, no interpolation, so the sampled pixel set is exactly
    * predictable from the source pixels), integer luma
    * (299r + 587g + 114b) DIV 1000, then bit (x, y) = 1 iff
    * gray(x+1, y) > gray(x, y). The 64 bits are returned as two 32-bit
    * halves (rows 0-3 → dhashA, rows 4-7 → dhashB, bit index y·8+x
    * within each half): engines whose BIGINT shift faults at bit 63
    * can still reproduce the hash exactly, and the four 16-bit bands
    * the near-dup join buckets on fall out of the halves for free.
    */
  def dHash(id: Long, payload: Array[Byte]): Option[ImageDHash] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }
    img.map { bi =>
      val w = bi.getWidth
      val h = bi.getHeight
      val gray = Array.ofDim[Int](8, 9)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 9) {
          val px = x * w / 9
          val py = y * h / 8
          val c = bi.getRGB(px, py)
          gray(y)(x) = (299 * ((c >> 16) & 0xff) + 587 * ((c >> 8) & 0xff) +
            114 * (c & 0xff)) / 1000
          x += 1
        }
        y += 1
      }
      var a = 0L
      var b = 0L
      y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (gray(y)(x + 1) > gray(y)(x)) {
            if (y < 4) a |= 1L << (y * 8 + x)
            else b |= 1L << ((y - 4) * 8 + x)
          }
          x += 1
        }
        y += 1
      }
      ImageDHash(id, w, h, a, b)
    }
  }

  /** Batched REAL image → dHash bridge (undecodable rows drop, the
    * [[decodeImages]] convention). One narrow mapPartitions scan,
    * payload-local, zero shuffles.
    */
  def dHashImages(spark: SparkSession, media: DataFrame, idCol: String,
                  payloadCol: String): Dataset[ImageDHash] = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch => batch.flatMap { case (id, p) => dHash(id, p) } }
  }

  /** Shared banded-hamming near-dup machinery over 32-bit fingerprint
    * WORDS: each word is first masked to its low 32 bits (callers may
    * hand sign-extended values — Spark's %/DIV truncate toward zero on
    * negatives and would band byte-equal patterns apart, silently
    * dropping pairs; `shiftrightunsigned` on the masked word sees the
    * true bit pattern), bucketed on `bandBits`-bit bands, candidates
    * verified with one popcount per word BEFORE the pair distinct
    * (hamming is a pure function of the carried words, so filtering
    * first shrinks the dedup shuffle by every band-colliding pair that
    * fails the threshold). Pigeonhole: hamming ≤ nBands−1 leaves one
    * band untouched, so the bucket join is LOSSLESS up to there.
    */
  private def bandedHammingPairs(hashes: DataFrame, idCol: String,
      wordCols: Seq[String], bandBits: Int, maxHamming: Int): DataFrame = {
    require(wordCols.nonEmpty && 32 % bandBits == 0,
      s"bandBits must divide 32, got $bandBits")
    val perWord = 32 / bandBits
    val nBands = wordCols.length * perWord
    require(maxHamming >= 0 && maxHamming < nBands,
      s"maxHamming must be in [0, ${nBands - 1}] for $nBands-band losslessness, got $maxHamming")
    val wi = wordCols.indices
    // persist the masked fingerprints: BOTH join sides read this subtree
    // and the caller's `hashes` is typically a mapPartitions DECODE pass
    // (ImageIO per frame, WAV walk) — without the cache the whole decode
    // executes once per side (PERF LESSON 1; measured 2× on the video
    // fingerprints). A few longs per corpus row — the smallest cacheable
    // frame in the join. Lifecycle: [[CacheRegistry]].
    val masked = CacheRegistry.persist(hashes.select(col(idCol).as("graft_id") +:
      wi.map(i => col(wordCols(i)).bitwiseAND(lit(0xFFFFFFFFL)).as(s"graft_w$i")): _*))
    val bandStructs = (for {
      i <- wi; b <- 0 until perWord
    } yield s"struct(${i * perWord + b} AS bi, " +
      s"(shiftrightunsigned(graft_w$i, ${b * bandBits}) & ${(1L << bandBits) - 1}) AS bv)")
      .mkString(", ")
    val bands = masked.select(col("graft_id") +: wi.map(i => col(s"graft_w$i")) :+
      explode(expr(s"array($bandStructs)")).as("b"): _*)
      .select(col("graft_id") +: wi.map(i => col(s"graft_w$i")) :+
        col("b.bi").as("graft_bi") :+ col("b.bv").as("graft_bv"): _*)
    val lhs = bands.select(col("graft_id").as("id_a") +:
      wi.map(i => col(s"graft_w$i").as(s"graft_a$i")) :+
      col("graft_bi") :+ col("graft_bv"): _*)
    val rhs = bands.select(col("graft_id").as("id_b") +:
      wi.map(i => col(s"graft_w$i").as(s"graft_b$i")) :+
      col("graft_bi") :+ col("graft_bv"): _*)
    val ham = wi.map(i => s"bit_count(graft_a$i ^ graft_b$i)").mkString(" + ")
    lhs.join(rhs, Seq("graft_bi", "graft_bv"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr(ham).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Perceptual near-duplicate pairs over dHash halves: four 16-bit
    * bands over the two 32-bit words ([[bandedHammingPairs]] — lossless
    * for hamming ≤ 3 by pigeonhole). The classic image-dedup shape:
    * candidate volume rides the band-bucket sizes, never all pairs.
    */
  def dhashNearDupPairs(hashes: DataFrame, idCol: String,
                        maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4-band losslessness, got $maxHamming")
    bandedHammingPairs(hashes, idCol, Seq("dhashA", "dhashB"),
      bandBits = 16, maxHamming = maxHamming)
  }

  /** Per-video perceptual fingerprint: the field-wise MINIMUM of the
    * sampled frames' dHash halves.
    */
  final case class VideoFp(id: Long, nFrames: Long, nSampled: Long,
      fpA: Long, fpB: Long)

  /** Per-video perceptual fingerprint — the [[sampleAviFrames]] ×
    * [[dHash]] composition: walk each RIFF-AVI payload, dHash every
    * `stride`-th frame (only the sampled frames pay a decode), and
    * collapse the sampled hashes to one fingerprint per video via the
    * field-wise MIN of the two 32-bit dHash halves. The min is order-
    * insensitive, so re-encoded copies with a trimmed head/tail or
    * shuffled frame order still collide, and it keeps the fingerprint a
    * fixed 64 bits regardless of video length — the property that lets
    * [[videoNearDupPairs]] reuse the banded-hamming bucket join
    * unchanged. Videos with no decodable sampled frame drop (the
    * [[decodeImages]] convention). One narrow mapPartitions pass,
    * payload-local, zero shuffles at any corpus size.
    */
  def videoFingerprints(spark: SparkSession, media: DataFrame, idCol: String,
                        payloadCol: String, stride: Int): Dataset[VideoFp] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, p) =>
          val frames = aviFramePayloads(p)
          val hashes = frames.zipWithIndex
            .collect { case (f, i) if i % stride == 0 => dHash(id, f) }
            .flatten
          if (hashes.isEmpty) None
          else Some(VideoFp(id, frames.length.toLong, hashes.length.toLong,
            hashes.map(_.dhashA).min, hashes.map(_.dhashB).min))
        }
      }
  }

  /** Video near-duplicate pairs over [[videoFingerprints]] output: the
    * q164 image machinery verbatim — four 16-bit bands over the two
    * fingerprint words, pigeonhole-lossless for hamming ≤ 3, popcount
    * verification before the pair distinct.
    */
  def videoNearDupPairs(hashes: DataFrame, idCol: String,
                        maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4-band losslessness, got $maxHamming")
    bandedHammingPairs(hashes, idCol, Seq("fpA", "fpB"),
      bandBits = 16, maxHamming = maxHamming)
  }
}
