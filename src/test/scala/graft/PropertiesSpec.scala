package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.functions._
import graft.ops._

/** Property-based invariants (SURVEY §5.2.3). Spark-backed properties run
  * few cases (each case is a job); pure driver-side ones use defaults.
  */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val kvGen = Gen.nonEmptyListOf(for {
    k <- Gen.choose(1, 5)
    v <- Gen.choose(1L, 100L)
  } yield (s"k$k", v))

  private val pcmGen = for {
    n <- Gen.choose(1, 200)
    samples <- Gen.listOfN(n, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
    rate <- Gen.oneOf(8000, 16000, 44100)
  } yield (samples.map(_.toShort).toArray, rate)

  property("WAV codec round trip: decodeAudioStats recovers exact stats for any PCM16 signal") =
    forAll(pcmGen) { case (samples, rate) =>
      import spark.implicits._
      val df = Seq((1L, Multimodal.pcm16Wav(samples, rate)))
        .toDF("media_id", "content")
      val r = Multimodal.decodeAudioStats(df, "media_id", "content").head()
      val wantPeak = samples.map(s => math.abs(s.toInt)).max
      val wantZc = samples.toSeq.sliding(2).count {
        case Seq(a, b) => (a < 0) != (b < 0)
        case _ => false
      }.toLong
      val wantSum = samples.map(s => math.abs(s.toInt).toLong).sum
      (r.getInt(1) == samples.length) :| s"n ${r.getInt(1)}" &&
        (r.getInt(2) == rate) :| s"rate ${r.getInt(2)}" &&
        (r.getInt(3) == wantPeak) :| s"peak ${r.getInt(3)} want $wantPeak" &&
        (r.getLong(4) == wantZc) :| s"zc ${r.getLong(4)} want $wantZc" &&
        (r.getLong(5) == wantSum) :| s"sum ${r.getLong(5)} want $wantSum"
    }

  property("hilbert walk is a grid-adjacent permutation at any bit width") =
    forAll(Gen.choose(2, 5)) { bits =>
      val cells = 1L << bits
      val grid = spark.range(0, cells * cells)
        .select((col("id") % cells).as("qx"),
          expr(s"id div $cells").as("qy"))
      val walked = Layout.withHilbert(grid, "qx", "qy", bits, "h")
        .select(col("h"), col("qx"), col("qy"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val isPerm = walked.map(_._1).toSeq == (0L until cells * cells)
      val adjacent = walked.sliding(2).forall {
        case Array((_, x1, y1), (_, x2, y2)) =>
          math.abs(x1 - x2) + math.abs(y1 - y2) == 1
        case _ => true
      }
      ("permutation" |: isPerm) && ("grid-adjacent" |: adjacent)
    }

  property("dedup output has unique keys and keeps the max order value") =
    forAll(kvGen) { rows =>
      val df = rows.toDF("k", "v")
      val out = Dedup.latestPerKeyAgg(df, Seq("k"), Seq(col("v")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      out == expected
    }

  property("thresholds never create values: null stays null, survivors unchanged mod rounding") =
    forAll(Gen.nonEmptyListOf(Gen.option(Gen.choose(0.0, 2000.0)))) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "ENERGY (KCAL)")
      val out = Thresholds(df, Seq("id")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      vals.zipWithIndex.forall { case (v, i) =>
        (v, out(i.toLong)) match {
          case (None, None)                   => true
          case (Some(x), None)                => x > 900.0
          case (Some(x), Some(y))             => x <= 900.0 && math.abs(y - x) <= 0.005
          case (None, Some(_))                => false
        }
      }
    }

  property("cosine scores are within [-1, 1]") =
    forAll(Gen.listOfN(8, Gen.choose(-10f, 10f)),
           Gen.listOfN(8, Gen.choose(-10f, 10f))) { (a, b) =>
      (a.exists(_ != 0f) && b.exists(_ != 0f)) ==> {
        val c = Seq((a, b)).toDF("a", "b")
          .select(VectorOps.cosine(col("a"), col("b"))).head().getDouble(0)
        c >= -1.0000001 && c <= 1.0000001
      }
    }

  property("exactSample returns exactly min(n, rows) rows") =
    forAll(Gen.choose(1, 50), Gen.choose(1, 80)) { (n, total) =>
      val df = (1 to total).toDF("x")
      Sampling.exactSample(df, n).count() == math.min(n, total)
    }

  property("minhash signature has k entries; identical texts share all bands") =
    forAll(Gen.choose(1, 4), Gen.nonEmptyListOf(Gen.identifier).map(_.take(20))) {
      (bands, words) =>
        val text = words.mkString(" ")
        val k = bands * 4
        val df = Seq(text).toDF("t")
        val row = df.select(
          TextOps.minHashSignature(TextOps.shingles(col("t"), 2), k).as("sig"),
          TextOps.lshBands(
            TextOps.minHashSignature(TextOps.shingles(col("t"), 2), k),
            bands, 4).as("bk")).head()
        row.getSeq[Long](0).length == k && row.getSeq[Any](1).length == bands
    }

  property("unitOf extracts the last parenthesized unit") =
    forAll(Gen.identifier, Gen.oneOf("G", "MG", "UG", "KCAL", "IU")) { (name, unit) =>
      Thresholds.unitOf(s"$name ($unit)") == unit
    }

  property("TopKByScore == sort-take(k) on random input") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0.0, 100.0)), Gen.choose(1, 10)) {
      (scores, k) =>
        import graft.expr.{ScoredRow, TopKByScore}
        val rows = scores.zipWithIndex.map { case (sc, i) =>
          ScoredRow(math.floor(sc * 4) / 4, i.toLong, 0, 0, 0, sc) // forced ties
        }
        val agg = new TopKByScore(k)
        val viaAgg = agg.finish(
          rows.grouped(3).map(_.foldLeft(agg.zero)(agg.reduce))
            .foldLeft(agg.zero)(agg.merge))
        val expected = rows.sortBy(r => (-r.score, r.k1)).take(k)
        viaAgg == expected
    }

  property("simhash of identical token lists is identical; hamming64 is 0") = {
    forAll(Gen.nonEmptyListOf(Gen.identifier)) { words =>
      val text = words.mkString(" ")
      val hs = Seq(text, text).toDF("t")
        .select(TextOps.simHash(col("t"))).collect().map(_.getLong(0))
      val dist = Seq((hs(0), hs(1))).toDF("a", "b")
        .select(ReferenceForms.hamming64(col("a"), col("b"))).head().getInt(0)
      hs(0) == hs(1) && dist == 0
    }
  }

  // random sizes, tile counts, bucket counts, heavy tie densities —
  // distributed tiling must equal the window ntile on every draw
  property("ntileDistributed == ntile window on random tied data") = {
    val gen = for {
      n <- Gen.choose(1, 300)
      tiles <- Gen.choose(1, 12)
      buckets <- Gen.choose(1, 16)
      distinctVals <- Gen.choose(1, 8) // few values → heavy ties
    } yield (n, tiles, buckets, distinctVals)
    forAll(gen) { case (n, tiles, buckets, distinctVals) =>
      val df = (1 to n).map(i => (i.toLong, (i % distinctVals).toDouble))
        .toDF("k", "v")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v"), col("k"))
      val expected = df.withColumn("t", ntile(tiles).over(w))
      val got = Tiling.ntileDistributed(
        df, tiles, col("v"), Seq(col("v"), col("k")), "t", buckets)
      got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty
    }
  }

  property("star CC labels == propagation CC labels on random graphs") = {
    val edgeGen = Gen.choose(1, 40).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.choose(1L, 30L); b <- Gen.choose(1L, 30L)
      } yield (a, b))
    }
    forAll(edgeGen) { edges =>
      edges.nonEmpty ==> {
        val df = edges.toDF("a", "b")
        def toMap(d: org.apache.spark.sql.DataFrame) =
          d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val prop = toMap(Dedup.connectedComponents(df, "a", "b"))
        val star = toMap(Dedup.connectedComponentsStar(df, "a", "b"))
        star == prop
      }
    }
  }

  property("poisson_weights64 kernel equals the hex-string threshold form") =
    forAll(Gen.listOfN(3, Gen.choose(0L, 10000000L))) { parts =>
      // independent reimplementation of the draw law exactly as the
      // DuckDB oracle states it: hex digest, 4-char slices, LEXICOGRAPHIC
      // threshold comparison — the kernel must agree draw for draw
      val key = parts.mkString("|")
      val got = graft.expr.PoissonWeights64.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(key)).toLongArray().toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val thr = Seq("5e2d", "bc5a", "eb71", "fb23", "ff10")
      val want = (0 to 7).flatMap { blk =>
        val hex = md.digest(s"$key|$blk".getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        (0 to 7).map { i =>
          thr.count(t => hex.substring(4 * i, 4 * i + 4) >= t).toLong
        }
      }
      got == want
    }
}
