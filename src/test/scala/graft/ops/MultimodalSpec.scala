package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.fromDocuments(
    Seq(1L, 2L, 3L).toDF("doc_id"))

  test("synthPng → decodeImageStats is a real codec round trip: stats match the pixel law") {
    val stats = Multimodal.decodeImageStats(media, "media_id", "content")
      .orderBy("media_id").collect()
    assert(stats.length == 3)
    stats.foreach { r =>
      val id = r.getLong(0)
      val w = Multimodal.synthWidth(id); val h = Multimodal.synthHeight(id)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getLong(3) == w.toLong * h)
      // per-channel sums recomputed directly from the law — the decode
      // must recover the EXACT pixels (PNG is lossless)
      val expect = (0 until 3).map { c =>
        (for (x <- 0 until w; y <- 0 until h)
          yield Multimodal.synthChannel(id, x, y, c).toLong).sum
      }
      assert(Seq(r.getLong(4), r.getLong(5), r.getLong(6)) == expect)
    }
  }

  test("the payload really is PNG bytes, decodable by ImageIO alone") {
    val bytes = Multimodal.synthPng(7L)
    assert(bytes.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == Multimodal.synthWidth(7L))
    assert(img.getHeight == Multimodal.synthHeight(7L))
    assert((img.getRGB(3, 2) & 0xFF) == Multimodal.synthChannel(7L, 3, 2, 2))
  }

  test("undecodable and null payloads yield null stats, not failures") {
    val bad = Seq(
      (10L, Some("not an image".getBytes("UTF-8"))),
      (11L, Option.empty[Array[Byte]]),
      (12L, Some(Array.empty[Byte]))).toDF("media_id", "content")
    val stats = Multimodal.decodeImageStats(bad, "media_id", "content")
      .orderBy("media_id").collect()
    assert(stats.length == 3)
    assert(stats.forall(r => r.isNullAt(1) && r.isNullAt(3) && r.isNullAt(4)))
  }

  test("extractFeatures: L1-normalized luminance histogram over DECODED pixels") {
    val feats = Multimodal.extractFeatures(media, "media_id", "content")
      .orderBy("media_id").collect()
    assert(feats.length == 3)
    feats.foreach { r =>
      val id = r.getLong(0)
      val f = r.getSeq[Float](1)
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0) < 1e-5) // normalized over n_pixels
      // recompute the histogram from the pixel law — must match exactly
      val w = Multimodal.synthWidth(id); val h = Multimodal.synthHeight(id)
      val expect = new Array[Float](16)
      for (x <- 0 until w; y <- 0 until h) {
        val lum = (0 until 3).map(Multimodal.synthChannel(id, x, y, _)).sum / 3
        expect((lum * 16) / 256) += 1f / (w * h)
      }
      f.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
      assert(r.getLong(2) > 0) // n_bytes = real PNG payload size
    }
    // undecodable payload → zero vector
    val junk = Seq((99L, "junk".getBytes("UTF-8"))).toDF("media_id", "content")
    val z = Multimodal.extractFeatures(junk, "media_id", "content")
      .head().getSeq[Float](1)
    assert(z.forall(_ == 0f))
  }

  test("video container round-trips: sampled frames decode to the exact pixel law") {
    import spark.implicits._
    val vids = Seq(5L, 6L, 7L).toDF("doc_id")
    val media = Multimodal.videosFromDocuments(vids)
    val got = Multimodal.sampleFrameStats(media, "media_id", "content", stride = 2)
      .orderBy("media_id", "frame_idx").collect()
    // expected rows: every 2nd frame of each video, stats from the law
    val want = Seq(5L, 6L, 7L).flatMap { id =>
      (0 until Multimodal.synthFrameCount(id) by 2).map { f =>
        val fid = Multimodal.synthFrameId(id, f)
        val w = Multimodal.synthWidth(fid); val h = Multimodal.synthHeight(fid)
        def sum(c: Int) = (for (x <- 0 until w; y <- 0 until h)
          yield Multimodal.synthChannel(fid, x, y, c).toLong).sum
        (id, f, w, h, sum(0), sum(1), sum(2))
      }
    }
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getLong(4), r.getLong(5), r.getLong(6))).toSeq == want)
    // skipped (odd) frames never appear
    assert(got.forall(_.getInt(1) % 2 == 0))
  }

  test("synthWav -> decodeAudioStats is a real RIFF round trip: stats match the sample law") {
    import spark.implicits._
    val ids = Seq(3L, 10L, 25L)
    val df = ids.map(id => (id, Multimodal.synthWav(id))).toDF("media_id", "content")
    val got = Multimodal.decodeAudioStats(df, "media_id", "content")
      .orderBy(col("media_id")).collect()
    ids.zip(got).foreach { case (id, row) =>
      val n = Multimodal.synthSampleCount(id)
      val samples = (0 until n).map(i => Multimodal.synthSample(id, i))
      assert(row.getLong(0) == id)
      assert(row.getInt(1) == n)
      assert(row.getInt(2) == Multimodal.SynthSampleRate)
      assert(row.getInt(3) == samples.map(math.abs).max)
      assert(row.getLong(4) == samples.sliding(2)
        .count(p => (p(0) < 0) != (p(1) < 0)).toLong)
      assert(row.getLong(5) == samples.map(s => math.abs(s).toLong).sum)
    }
    // the payload is a spec-shaped WAV: canonical 44-byte header
    val bytes = Multimodal.synthWav(3L)
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    assert(bytes.length == 44 + Multimodal.synthSampleCount(3L) * 2)
  }

  test("corrupt / truncated / non-PCM16 WAV payloads yield null stats, not failures") {
    import spark.implicits._
    val good = Multimodal.synthWav(7L)
    val stereo = good.clone() // flip the channel-count field -> not mono
    stereo(22) = 2
    val zeroFmt = good.clone() // declare a 0-byte fmt body: the decoder
    zeroFmt(16) = 0            // must refuse, not read the next chunk's
                               // bytes as format fields
    val bad = Seq(
      (1L, "not a wav at all".getBytes("US-ASCII")),
      (2L, good.slice(0, 30)),                   // truncated mid-header
      (3L, null.asInstanceOf[Array[Byte]]),
      (4L, stereo),                              // parseable but unsupported
      (5L, zeroFmt),                             // malformed fmt chunk length
      (6L, good)                                 // one good row among them
    ).toDF("media_id", "content")
    val rows = Multimodal.decodeAudioStats(bad, "media_id", "content")
      .orderBy(col("media_id")).collect()
    assert(rows.length == 6, "corrupt rows must survive as rows")
    rows.take(5).foreach(r => assert(r.isNullAt(1), s"expected null stats: $r"))
    assert(rows(5).getInt(1) == Multimodal.synthSampleCount(7L))
  }

  test("extractAudioFeatures: L1-normalized window energies; corrupt -> zero vector") {
    import spark.implicits._
    val df = Seq((9L, Multimodal.synthWav(9L)),
      (1L, "junk".getBytes("US-ASCII"))).toDF("media_id", "content")
    val rows = Multimodal.extractAudioFeatures(df, "media_id", "content", 8)
      .orderBy(col("media_id")).collect()
    val bad = rows(0).getSeq[Float](1)
    assert(bad == Seq.fill(8)(0f), s"corrupt clip must yield the zero vector: $bad")
    val feats = rows(1).getSeq[Float](1)
    assert(feats.length == 8)
    assert(math.abs(feats.map(_.toDouble).sum - 1.0) < 1e-5, "L1-normalized")
    // exact parity with the sample law, windowed by (i*8) div n
    val n = Multimodal.synthSampleCount(9L)
    val sums = new Array[Long](8)
    (0 until n).foreach(i =>
      sums((i.toLong * 8 / n).toInt) += math.abs(Multimodal.synthSample(9L, i)))
    val total = sums.sum.toDouble
    feats.zip(sums).foreach { case (f, w) =>
      assert(f == (w / total).toFloat, s"window feature $f != ${(w / total).toFloat}")
    }
  }

  test("frame sampling survives corrupt containers (zero rows, no failure)") {
    import spark.implicits._
    val bad = Seq(
      (1L, Array[Byte](0, 0, 0, 99)),            // claims 99 frames, has none
      (2L, Array[Byte](1, 2)),                   // shorter than the header
      (3L, null.asInstanceOf[Array[Byte]]),      // null payload
      (4L, Multimodal.synthVideo(4L))            // one good row among them
    ).toDF("media_id", "content")
    val got = Multimodal.sampleFrameStats(bad, "media_id", "content", stride = 2)
      .select("media_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got == Set(4L))
  }
}
