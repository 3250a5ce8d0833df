package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (builder-prompt scope extension): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode / feature-extract / frame-sample as
  * partition-batched transforms.
  *
  * The decode step is REAL: payloads are PNG images encoded and decoded
  * with JVM-built-in `javax.imageio` (no external codec). Fixture
  * payloads are deterministic synthetic images — width/height/pixels are
  * pure functions of the media id — so an oracle can recompute every
  * decoded statistic arithmetically while the engine path exercises a
  * genuine bytes→codec→pixels round trip. The execution shape is the
  * Scala analogue of a pandas-UDF/`mapInPandas` batch loop:
  * `mapPartitions` over an iterator, per-partition codec setup amortized
  * across the batch.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // creates a temp file, and 32 concurrent decoder threads serialize on
  // temp-file creation (measured 8× slowdown at local[32] vs local[4]).
  // These payloads are small in-memory byte arrays — cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("modality", StringType),      // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  // Deterministic synthetic-image law, shared by the Scala generator and
  // any SQL oracle: dimensions and every channel value are pure integer
  // functions of (media_id, x, y, channel), so decoded stats are
  // recomputable without a codec.
  def synthWidth(id: Long): Int = (8 + (id % 9)).toInt
  def synthHeight(id: Long): Int = (8 + (id % 7)).toInt
  def synthChannel(id: Long, x: Int, y: Int, c: Int): Int =
    ((id * 31 + x * 7L + y * 13L + c * 101L) % 256).toInt

  /** Encode ONE deterministic RGB image as real PNG bytes
    * (`javax.imageio` — lossless, so decode recovers the exact pixels).
    */
  def synthPng(id: Long): Array[Byte] = {
    val w = synthWidth(id); val h = synthHeight(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (synthChannel(id, x, y, 0) << 16) |
          (synthChannel(id, x, y, 1) << 8) |
          synthChannel(id, x, y, 2))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decoded-pixel statistics over a binary image column — REAL
    * `ImageIO.read` per payload, partition-batched. Integer outputs only
    * (dimensions + per-channel sums), so comparisons are exact — no
    * float tolerance anywhere. Undecodable/null payloads yield null
    * stats rather than failing the batch (a corrupt blob in a 100 TB
    * corpus must not kill the job).
    */
  def decodeImageStats(df: DataFrame, idCol: String,
                       contentCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_pixels", LongType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val rdd = df.select(col(idCol).cast(LongType), col(contentCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          decodeOne(bytes) match {
            case Some((w, h, sr, sg, sb)) =>
              Row(r.getLong(0), w, h, w.toLong * h, sr, sg, sb)
            case None =>
              Row(r.getLong(0), null, null, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** One real decode: bytes → BufferedImage → (w, h, channel sums).
    * None for null/empty/undecodable payloads.
    */
  private def decodeOne(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    if (bytes == null || bytes.isEmpty) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) return None
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
        x += 1
      }
      y += 1
    }
    Some((w, h, sr, sg, sb))
  }

  /** Partition-batched feature extraction over a binary image column:
    * decode (real `ImageIO`), then a `dim`-bin luminance histogram over
    * the DECODED pixels, L1-normalized. Undecodable payloads → zero
    * vector. The signature — bytes in, fixed-dim floats out — is the
    * contract a learned encoder would slot into.
    */
  def extractFeatures(df: DataFrame, idCol: String, contentCol: String,
                      dim: Int = 16): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType)),
      StructField("n_bytes", LongType)))
    val rdd = df.select(col(idCol).cast(LongType), col(contentCol)).rdd
      .mapPartitions { rows =>
        // per-partition setup happens here (codec context in a real system)
        rows.map { r =>
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          Row(r.getLong(0),
            luminanceHistogram(bytes, dim).toSeq,
            if (bytes == null) 0L else bytes.length.toLong)
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Decode + pool: per-pixel luminance ((r+g+b)/3, integer) binned into
    * `dim` buckets, normalized by pixel count.
    */
  private def luminanceHistogram(bytes: Array[Byte], dim: Int): Array[Float] = {
    val hist = new Array[Float](dim)
    val img =
      if (bytes == null || bytes.isEmpty) null
      else
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: java.io.IOException => null }
    if (img == null) return hist
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
        hist((lum * dim) / 256) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    var i = 0
    while (i < dim) { hist(i) /= n; i += 1 }
    hist
  }

  // ------------------------------------------------------------- video

  /** Frames per synthetic video — pure function of the media id. */
  def synthFrameCount(id: Long): Int = (3 + (id % 4)).toInt

  /** Frame id law: each frame of video `id` is the synthetic image with
    * id `id * 100 + frameIdx` (frame counts stay < 100, so frame ids
    * never collide across videos). Shared with the SQL oracle.
    */
  def synthFrameId(id: Long, frameIdx: Int): Long = id * 100 + frameIdx

  /** Deterministic multi-frame "video": a length-prefixed container of
    * REAL PNG frames — [nFrames:int32][len_i:int32]×n[png bytes]×n.
    * Parsing it back and decoding individual frames exercises the same
    * container-seek + per-frame-decode path a real video pipeline runs,
    * without an external codec.
    */
  def synthVideo(id: Long): Array[Byte] = {
    val frames = (0 until synthFrameCount(id)).map(f => synthPng(synthFrameId(id, f)))
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(frames.length)
    frames.foreach(f => dos.writeInt(f.length))
    frames.foreach(dos.write)
    dos.flush()
    bos.toByteArray
  }

  /** Media table with container-of-PNGs video payloads, one per document
    * id (the video sibling of [[fromDocuments]]).
    */
  def videosFromDocuments(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val rdd = documents.select(col("doc_id").cast(LongType)).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, "video", synthVideo(id),
          Row("graft-frames", null, null, synthFrameCount(id) * 40L))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** REAL frame sampling + decode: parse the frame container, seek to
    * every `stride`-th frame, `ImageIO.read` JUST those frames, and emit
    * integer pixel stats per sampled frame. Skipped frames are never
    * decoded — the point of stride sampling at 100 TB: container
    * indexes make decode cost proportional to frames KEPT, not frames
    * stored. Corrupt/undecodable containers yield zero rows for that
    * media id instead of failing the batch.
    */
  def sampleFrameStats(df: DataFrame, idCol: String, contentCol: String,
                       stride: Int = 2): DataFrame = {
    require(stride >= 1, s"sampleFrameStats: stride must be >= 1, got $stride")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val rdd = df.select(col(idCol).cast(LongType), col(contentCol)).rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          parseFrames(bytes).zipWithIndex.collect {
            // seek past skipped frames; decode only the sampled ones
            case (frame, idx) if idx % stride == 0 =>
              decodeOne(frame).map { case (w, h, sr, sg, sb) =>
                Row(r.getLong(0), idx, w, h, sr, sg, sb)
              }
          }.flatten
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Container parse: frame byte ranges without decoding any of them.
    * Empty for null/truncated/malformed containers.
    */
  private def parseFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (bytes == null || bytes.length < 4) return Seq.empty
    try {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      if (n < 0 || n > 10000) return Seq.empty
      val lens = (0 until n).map(_ => in.readInt())
      if (lens.exists(l => l < 0) || lens.map(_.toLong).sum > bytes.length)
        return Seq.empty
      lens.map { l => val b = new Array[Byte](l); in.readFully(b); b }
    } catch { case _: java.io.IOException => Seq.empty }
  }

  // ------------------------------------------------------------- audio

  /** Deterministic synthetic-audio law, shared with the SQL oracle:
    * sample count and every PCM16 sample are pure integer functions of
    * (media_id, i), so decoded stats are recomputable without a codec.
    * Samples sweep the full int16 range and change sign frequently, so
    * peak / zero-crossing / energy stats exercise real signal paths.
    */
  def synthSampleCount(id: Long): Int = (400 + (id % 7) * 50).toInt
  val SynthSampleRate: Int = 16000
  def synthSample(id: Long, i: Int): Int =
    ((id * 31 + i.toLong * 37) % 65536).toInt - 32768

  /** Canonical RIFF/WAVE encoder (44-byte header + little-endian PCM16
    * mono) for ANY sample array — [[synthWav]] is this under the
    * deterministic law, and the PropertiesSpec round-trip drives it with
    * arbitrary signals.
    */
  def pcm16Wav(samples: Array[Short], rate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII")); bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16); bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(rate); bb.putInt(rate * 2)
    bb.putShort(2); bb.putShort(16) // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Encode ONE deterministic clip as a REAL RIFF/WAVE payload — decode
    * walks the actual container format, not a toy framing.
    */
  def synthWav(id: Long): Array[Byte] =
    pcm16Wav(Array.tabulate(synthSampleCount(id))(i =>
      synthSample(id, i).toShort), SynthSampleRate)

  /** Media table with WAV payloads, one per document id (the audio
    * sibling of [[fromDocuments]]/[[videosFromDocuments]]).
    */
  def audiosFromDocuments(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    // cast matches the decode-side convention (decodeAudioStats casts its
    // idCol) — an IntegerType doc_id must not ClassCastException here
    val rdd = documents.select(col("doc_id").cast(LongType)).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, "audio", synthWav(id),
          Row("pcm_s16le", null, null,
            synthSampleCount(id) * 1000L / SynthSampleRate))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** REAL WAV decode + per-clip signal statistics: walk the RIFF
    * chunks (fmt → rate/channels/bits, data → PCM16 LE samples) and emit
    * integer-exact stats — peak |sample|, zero crossings (sign change
    * between consecutive samples, 0 counted non-negative), Σ|sample|.
    * Null/truncated/non-PCM16 payloads yield null stats rather than
    * failing the batch (the corrupt-blob contract of
    * [[decodeImageStats]]). Integer outputs only, so comparisons are
    * exact — no float tolerance anywhere.
    */
  def decodeAudioStats(df: DataFrame, idCol: String,
                       contentCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_samples", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("peak_abs", IntegerType),
      StructField("n_zero_cross", LongType),
      StructField("sum_abs", LongType)))
    val rdd = df.select(col(idCol).cast(LongType), col(contentCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          decodeWav(bytes) match {
            case Some((rate, samples)) =>
              var peak = 0; var zc = 0L; var sumAbs = 0L
              var i = 0
              while (i < samples.length) {
                val s = samples(i)
                val a = math.abs(s.toInt)
                if (a > peak) peak = a
                sumAbs += a
                if (i > 0 && ((samples(i - 1) < 0) != (s < 0))) zc += 1
                i += 1
              }
              Row(r.getLong(0), samples.length, rate, peak, zc, sumAbs)
            case None =>
              Row(r.getLong(0), null, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** RIFF/WAVE chunk walk: (sampleRate, PCM16 samples). None for
    * null/short/malformed/non-(PCM16 mono) payloads.
    */
  private def decodeWav(bytes: Array[Byte]): Option[(Int, Array[Short])] = {
    if (bytes == null || bytes.length < 44) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      if (tag() != "RIFF") return None
      bb.getInt // declared riff length — trust actual bounds instead
      if (tag() != "WAVE") return None
      var rate = -1; var ok = false
      var data: Array[Short] = null
      while (bb.remaining() >= 8 && data == null) {
        val id = tag(); val len = bb.getInt
        if (len < 0 || len > bb.remaining()) return None
        val pad = len & 1 // RIFF chunks are word-aligned: odd len → pad byte
        if (id == "fmt ") {
          if (len < 16) return None // PCM fmt body is >= 16 bytes
          val fmt = bb.getShort; val ch = bb.getShort
          rate = bb.getInt; bb.getInt; bb.getShort
          val bits = bb.getShort
          bb.position(bb.position() + len - 16 + pad)
          ok = fmt == 1 && ch == 1 && bits == 16
        } else if (id == "data") {
          if (!ok) return None
          val n = len / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = bb.getShort; i += 1 }
          data = out
        } else bb.position(bb.position() + len + pad)
      }
      if (data == null) None else Some((rate, data))
    } catch {
      case _: RuntimeException => None // buffer underflow / bad offsets
    }
  }

  /** Per-window absolute-energy vector over decoded PCM16 clips: window
    * of sample i is `(i * nWindows) div n` (near-equal proportional
    * bins for any clip length), energy is the EXACT Σ|sample| long per
    * window — the integer core both the float feature vector
    * ([[extractAudioFeatures]]) and the exact-ppm registry oracle derive
    * from. Undecodable payloads yield a null vector (the
    * [[decodeAudioStats]] corrupt-blob contract).
    */
  def audioWindowEnergies(df: DataFrame, idCol: String, contentCol: String,
                          nWindows: Int = 8): DataFrame = {
    require(nWindows >= 1, s"audioWindowEnergies: nWindows >= 1, got $nWindows")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sums", ArrayType(LongType))))
    val rdd = df.select(col(idCol).cast(LongType), col(contentCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          decodeWav(bytes) match {
            case Some((_, samples)) if samples.nonEmpty =>
              val sums = new Array[Long](nWindows)
              var i = 0
              while (i < samples.length) {
                sums((i.toLong * nWindows / samples.length).toInt) +=
                  math.abs(samples(i).toInt)
                i += 1
              }
              Row(r.getLong(0), sums.toSeq)
            case _ => Row(r.getLong(0), null)
          }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** L1-normalized float feature vector from the window energies — the
    * audio sibling of [[extractFeatures]]: bytes in, fixed-dim floats
    * out, the contract a learned audio encoder would slot into.
    * Undecodable/silent clips yield the zero vector.
    */
  def extractAudioFeatures(df: DataFrame, idCol: String, contentCol: String,
                           nWindows: Int = 8): DataFrame =
    audioWindowEnergies(df, idCol, contentCol, nWindows)
      .select(col("media_id"),
        // total is bound ONCE (TextOps.bind) — inlining it would re-fold
        // the sums array per output element plus once for the guard
        TextOps.bind(aggregate(col("sums"), lit(0L), (a, x) => a + x)) { total =>
          when(col("sums").isNull || total === 0L,
            typedLit(Seq.fill(nWindows)(0f)))
          .otherwise(transform(col("sums"), s =>
            (s.cast("double") / total.cast("double")).cast("float")))
        }.as("features"))

  /** Media table with REAL PNG payloads, one per document id: content is
    * `synthPng(doc_id)` (encoded on executors, partition-batched), meta
    * carries the true decoded dimensions.
    */
  def fromDocuments(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val rdd = documents.select(col("doc_id").cast(LongType)).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, "image", synthPng(id),
          Row("png", synthWidth(id), synthHeight(id), 0L))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }
}
