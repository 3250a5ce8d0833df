package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1L, "x1"), ("a", 3L, "x3"), ("a", 2L, "x2"),
    ("b", 5L, "y5"), ("c", 7L, "z7")).toDF("k", "ver", "payload")

  test("latestPerKey keeps the max-order row per key (deterministic)") {
    val got = ReferenceForms.latestPerKey(df, Seq("k"), "ver")
      .orderBy("k").collect().toSeq
    assert(got == Seq(Row("a", 3L, "x3"), Row("b", 5L, "y5"), Row("c", 7L, "z7")))
  }

  test("latestPerKeyAgg (max_by form) matches the window form") {
    val w = ReferenceForms.latestPerKey(df, Seq("k"), "ver").orderBy("k").collect().toSeq
    val a = Dedup.latestPerKeyAgg(df, Seq("k"), Seq(col("ver")))
      .orderBy("k").collect().toSeq
    assert(w == a)
  }

  test("exact dedup leaves one row per distinct column set") {
    val d = Seq(("a", 1), ("a", 1), ("a", 2)).toDF("x", "y")
    assert(Dedup.exact(d, Seq("x", "y")).count() == 2)
    assert(Dedup.exact(d, Seq("x")).count() == 1)
  }

  test("connectedComponents labels chains, stars and singleton pairs with the min id") {
    // components: {1,2,3,4} (chain), {10,11,12} (star on 10), {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a long path (diameter > 2)") {
    val path = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    val got = Dedup.connectedComponents(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 9 && got.values.forall(_ == 1L))
  }

  test("auto CC: propagation path on shallow graphs, star fallback on deep ones — same labels") {
    // shallow: converges within propRounds → propagation path
    val shallow = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val gotShallow = Dedup.connectedComponentsAuto(shallow, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotShallow == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // deep: 64-node path exceeds propRounds=2 → star fallback
    val path = (1L to 64L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    val gotDeep = Dedup.connectedComponentsAuto(path, "a", "b", propRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDeep.size == 64 && gotDeep.values.forall(_ == 1L))
  }

  test("auto CC: empty pair set yields empty labels, no crash") {
    // a near-dup pass can legitimately find zero pairs; the propagation
    // path's Σ-label convergence check must treat the null sum as 0
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponentsAuto(empty, "a", "b").count() == 0L)
    assert(Dedup.connectedComponents(empty, "a", "b").count() == 0L)
  }

  test("star CC matches propagation CC on mixed shapes (incl. self-loops)") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L), (30L, 30L)).toDF("a", "b")
    val got = Dedup.connectedComponentsStar(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L))
  }

  test("auto CC end-to-end: adversarial 512-path falls back and stays within the hybrid bound") {
    // the DEFAULT entry point (propagation probe → star fallback), not
    // the star variant directly: worst case is propRounds propagation
    // rounds that fail to converge plus ≤ 2·log₂(n) star rounds
    val n = 512L
    def perm(i: Long): Long = (i * 269 + 47) % n + 1
    val path = (1L until n).map(i => (perm(i), perm(i + 1))).toDF("a", "b")
    val (labels, fellBack, starRounds) =
      Dedup.connectedComponentsAutoCounted(path, "a", "b")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 1L))
    assert(fellBack, "a 512-path must exceed the propagation probe")
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 6
    assert(starRounds + 6 <= bound,
      s"hybrid took 6+$starRounds rounds on a $n-path (bound $bound)")
  }

  test("star CC: path of 512 nodes converges in O(log n) rounds, not O(n)") {
    val n = 512L
    // shuffled ids so the min isn't an endpoint (adversarial for naive
    // propagation direction); reversible affine permutation of 1..n
    def perm(i: Long): Long = (i * 269 + 47) % n + 1
    val path = (1L until n).map(i => (perm(i), perm(i + 1))).toDF("a", "b")
    val (labels, rounds) = Dedup.connectedComponentsStarCounted(path, "a", "b")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 1L))
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt // 18
    assert(rounds <= bound,
      s"star CC took $rounds rounds on a $n-path (bound $bound) — " +
        "propagation would take ~510")
  }
}

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeStrings upper+trims every string column, leaves others") {
    val df = Seq(("  a b ", 1), ("C", 2)).toDF("s", "n")
    val got = Cleaning.normalizeStrings(df).orderBy("n").collect().toSeq
    assert(got == Seq(Row("A B", 1), Row("C", 2)))
  }

  test("castCoerceDouble: junk → null, valid → rounded (pandas to_numeric coerce)") {
    // raw string column straight into the operator — must not throw under
    // ANSI mode on the non-numeric value
    val df = Seq("12.345", "junk", null).toDF("v")
    val got = Cleaning.castCoerceDouble(df, "v")
      .collect().map(_.get(0)).toSet
    assert(got == Set(12.35, null))
  }

  test("concatWithSep null-propagates (deliberate divergence from pandas 'nan G')") {
    val df = Seq((Some(1.5), Some("G")), (None, Some("G")), (Some(2.0), None))
      .toDF("size", "unit")
    val got = Cleaning.concatWithSep(df, "out", "size", "unit")
      .select("out").collect().map(_.get(0)).toSeq
    assert(got == Seq("1.5 G", null, null))
  }

  test("filterNotContains: nulls PASS (pandas na=False semantics)") {
    val df = Seq(Some("has IU inside"), Some("clean"), None).toDF("s")
    val got = Cleaning.filterNotContains(df, "s", "IU")
      .collect().map(_.get(0)).toSeq
    assert(got == Seq("clean", null))
  }
}

class ThresholdsSpec extends SparkSpec {
  import spark.implicits._

  test("cap by unit, cap by full column name, unknown unit passthrough, rounding") {
    val df = Seq((1L, 50.123, 950.0, 123456.789, 400000.0))
      .toDF("id", "PROTEIN (G)", "ENERGY (KCAL)", "WEIRD (GRM)", "VITAMIN A, IU (IU)")
    val got = Thresholds(df, Seq("id")).head()
    assert(got == Row(1L, 50.12, null, 123456.79, null))
    // G cap 100 keeps 50.123→50.12; KCAL cap 900 nulls 950; GRM unknown
    // → rounded only; "VITAMIN A, IU (IU)" capped by full name (333333).
  }

  test("values exactly at the cap survive") {
    val df = Seq((1L, 100.0, 900.0)).toDF("id", "X (G)", "ENERGY (KCAL)")
    assert(Thresholds(df, Seq("id")).head() == Row(1L, 100.0, 900.0))
  }

  test("KCAL cap is keyed by full column name, not unit (reference dict order)") {
    // a non-ENERGY column labeled with the KCAL unit is NOT capped
    val df = Seq((1L, 5000.0, 5000.0)).toDF("id", "OTHER (KCAL)", "ENERGY (KCAL)")
    assert(Thresholds(df, Seq("id")).head() == Row(1L, 5000.0, null))
  }

  test("unitOf parses the parenthesized unit") {
    assert(Thresholds.unitOf("ENERGY (KCAL)") == "KCAL")
    assert(Thresholds.unitOf("A (B) (C)") == "C")
    assert(Thresholds.unitOf("NOPAREN") == "NOPAREN")
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("exactSample returns exactly N rows, all from the source, deterministic") {
    val df = (1 to 1000).toDF("n")
    val s1 = Sampling.exactSample(df, 100, seed = 7).collect().map(_.getInt(0))
    val s2 = Sampling.exactSample(df, 100, seed = 7).collect().map(_.getInt(0))
    assert(s1.length == 100 && s1.distinct.length == 100)
    assert(s1.forall(n => n >= 1 && n <= 1000))
    assert(s1.toSeq == s2.toSeq) // seed-deterministic
  }

  test("editDistancePairs guards its quadratic domain") {
    val small = Seq("gear", "gearx", "bolt").toDF("k")
    val pairs = TextOps.editDistancePairs(small, "k")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("gear", "gearx")))
    val big = (1 to 100).map(i => s"brand_$i").toDF("k")
    val e = intercept[IllegalArgumentException] {
      TextOps.editDistancePairs(big, "k", maxDomain = 50)
    }
    assert(e.getMessage.contains("O(n²)") || e.getMessage.contains("candidate pairs"))
  }

  test("topKDense orders by fewest nulls") {
    val df = Seq(
      (1, Some(1), Some(1)), (2, None, Some(1)), (3, None, None))
      .toDF("id", "a", "b")
    val got = Sampling.topKDense(df, 2, Seq(col("id"))).select("id")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 2))
  }

  test("stratifiedHashSample: exactly n per stratum, deterministic, members of stratum") {
    val df = (1 to 3000).map(i => (s"s${i % 3}", i.toLong)).toDF("stratum", "id")
    val got = Sampling.stratifiedHashSample(df, 40, col("stratum"), Seq(col("id")))
    val counts = got.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 40L, "s1" -> 40L, "s2" -> 40L))
    // every sampled row really belongs to its stratum, and the draw is stable
    assert(got.filter(col("stratum") =!= concat(lit("s"), pmod(col("id"), lit(3)))).isEmpty)
    val again = Sampling.stratifiedHashSample(df, 40, col("stratum"), Seq(col("id")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == got.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // a stratum smaller than n yields all its rows, not an error
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("stratum", "id")
    assert(Sampling.stratifiedHashSample(tiny, 40, col("stratum"), Seq(col("id")))
      .count() == 3)
  }

  test("weightedHashSample: inclusion tracks weight (A-Res), excludes non-positive weights") {
    // 2000 light rows (w=1) + 2000 heavy rows (w=10): in a 400-draw A-Res
    // sample the heavy class should dominate — its expected share is far
    // above half; assert a conservative 2:1 to keep the test robust
    val df = (1 to 4000).map { i =>
      val heavy = i > 2000
      (i.toLong, if (heavy) 10.0 else 1.0)
    }.toDF("id", "w")
    val got = Sampling.weightedHashSample(df, 400, col("w"), Seq(col("id")))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 400)
    val heavyN = got.count(_._2 == 10.0)
    assert(heavyN > 2 * (400 - heavyN),
      s"heavy rows under-sampled: $heavyN of 400")
    // zero/negative/null weights never selected
    val withBad = df.union(Seq((9001L, 0.0), (9002L, -3.0)).toDF("id", "w"))
      .union(Seq((9003L, Option.empty[Double])).toDF("id", "w"))
    val ids = Sampling.weightedHashSample(withBad, 4000, col("w"), Seq(col("id")))
      .collect().map(_.getLong(0)).toSet
    assert(!ids.exists(_ >= 9001L))
    assert(ids.size == 4000) // all positive-weight rows when n >= domain
  }

  test("hash-sample keys are null-safe: ('a', null, 'b') hashes apart from ('a|b', null)") {
    // concat_ws alone would render both key tuples as "a|b"; the NUL
    // sentinel keeps them distinct, so a 2-row domain sampled at n=1
    // must pick deterministically BETWEEN two distinct hashes (and both
    // rows must carry different h values)
    val df = Seq(
      (1L, Some("a"), Option.empty[String], Some("b")),
      (2L, Some("a|b"), Option.empty[String], Option.empty[String]))
      .toDF("id", "k1", "k2", "k3")
    val hashes = Sampling.hashSample(df, 2, Seq(col("k1"), col("k2"), col("k3")))
      .select("h").collect().map(_.getString(0)).toSet
    assert(hashes.size == 2, "null-skipping concat collapsed distinct key tuples")
  }
}

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed star graph, 2 iterations, exact integers") {
    // star 1—2, 1—3 symmetrized: deg(1)=2, deg(2)=deg(3)=1
    // iter1: pr(1)=150000+850*(1e6+1e6)/1000=1850000
    //        pr(2)=pr(3)=150000+850*(1e6 div 2)/1000=575000
    // iter2: pr(1)=150000+850*(575000+575000)/1000=1127500
    //        pr(2)=pr(3)=150000+850*(1850000 div 2)/1000=936250
    val base = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val edges = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
    val got = PageRank.pageRank(edges, "src", "dst", iterations = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1127500L), (2L, 936250L), (3L, 936250L)))
  }

  test("pageRank: symmetric pair is a fixed point; teleport is the floor") {
    val base = Seq((10L, 20L)).toDF("src", "dst")
    val edges = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
    val got = PageRank.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1000000L, 20L -> 1000000L))
    // every rank is bounded below by the teleport mass
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val b2 = li.select((col("l_suppkey").cast("long") * 2).as("src"),
      (col("l_partkey").cast("long") * 2 + 1).as("dst")).distinct()
    val e2 = b2.union(b2.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = PageRank.pageRank(e2, "src", "dst", iterations = 3)
    assert(ranks.filter(col("pr") < 150000L).count() == 0)
    // mass is conserved up to integer-floor loss: sum(pr) <= n * microInit
    val Array(row) = ranks.agg(sum("pr"), count(lit(1))).collect()
    assert(row.getLong(0) <= row.getLong(1) * 1000000L)
  }

  test("pageRankBucketed is bit-identical to the broadcast/AQE path") {
    val tag = "pr_parity_" + java.lang.Long.toHexString(System.nanoTime())
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val b = li.select((col("l_suppkey").cast("long") * 2).as("src"),
      (col("l_partkey").cast("long") * 2 + 1).as("dst")).distinct()
    val edges = b.union(b.select(col("dst").as("src"), col("src").as("dst")))
    try {
      val bucketed = PageRank.pageRankBucketed(spark, edges, "src", "dst",
        iterations = 3, namePrefix = tag, buckets = 8)
      val plain = PageRank.pageRank(edges, "src", "dst", iterations = 3)
      // exact integer arithmetic: the two paths must agree on every row
      assert(bucketed.count() > 0)
      assert(bucketed.exceptAll(plain).isEmpty &&
        plain.exceptAll(bucketed).isEmpty)
    } finally PageRank.dropBucketedTables(spark, tag)
  }
}

class ScdSpec extends SparkSpec {
  import spark.implicits._

  test("scd2 collapses unchanged runs into half-open versioned intervals") {
    val log = Seq(
      (1L, 10L, "A"), (1L, 11L, "A"), (1L, 12L, "B"), (1L, 13L, "A"),
      (2L, 20L, "X")).toDF("k", "t", "status")
    val got = Scd.scd2(log, Seq("k"), Seq("t"), Seq("status"))
      .orderBy("k", "version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4), r.getBoolean(5)))
      .toSeq
    assert(got == Seq(
      (1L, "A", 10L, 12L, 1, false), // 10-11 collapsed, closed by B at 12
      (1L, "B", 12L, 13L, 2, false),
      (1L, "A", 13L, -1L, 3, true),  // A returns: NEW version, open-ended
      (2L, "X", 20L, -1L, 1, true)))
  }

  test("scd2 intervals tile each key's history: no gaps, no overlaps") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val v = Scd.scd2(orders, Seq("o_custkey"),
      Seq("o_orderdate", "o_orderkey"), Seq("o_orderstatus"))
    // exactly one current version per key
    val multiCurrent = v.filter(col("is_current"))
      .groupBy("o_custkey").count().filter(col("count") =!= 1).count()
    assert(multiCurrent == 0)
    // valid_to of version n == valid_from of version n+1 (half-open tiling)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("version")
    val gaps = v.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("next_from").isNotNull &&
        !(col("valid_to") <=> col("next_from")))
      .count()
    assert(gaps == 0)
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("incrementalDedup drops exactly the batch rows whose key exists in history") {
    val history = Seq("a", "b", "c").toDF("fp")
    val batch = Seq(("b", 1), ("d", 2), ("e", 3)).toDF("fp", "v")
    val got = Dedup.incrementalDedup(batch, history, "fp")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("d", 2), ("e", 3)))
    // empty batch short-circuits (null aggregate) without failing
    assert(Dedup.incrementalDedup(batch.filter(lit(false)), history, "fp")
      .count() == 0)
  }

  test("incrementalDedup ≡ plain anti join on the real corpus (bloom changes cost, not results)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val history = docs.select(md5(col("text")).as("fp"))
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("new_id"), md5(concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" edited")).otherwise(lit(""))))
        .as("fp"))
    val viaBloom = Dedup.incrementalDedup(batch, history, "fp")
    val plain = batch.join(history, Seq("fp"), "left_anti")
    assert(viaBloom.count() > 0)
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty)
  }

  test("a batch past the bloom budget falls back to a shuffled anti join, same rows") {
    val history = Seq("a", "b", "c").toDF("fp")
    val batch = Seq(("b", 1), ("d", 2), ("e", 3)).toDF("fp", "v")
    // expectedBatchKeys > maxBloomKeys → the bloom/broadcast path (an OOM
    // cliff at that size) must be bypassed, not attempted
    val got = Dedup.incrementalDedup(batch, history, "fp",
        expectedBatchKeys = 1L << 30, maxBloomKeys = 1L << 20)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("d", 2), ("e", 3)))
  }

  test("the bloom-budget gate measures the batch, not the caller's estimate") {
    // a genuinely oversized batch declared with the default small estimate
    // must STILL fall back (no batch-sized broadcast): 5000 actual keys
    // against a 1000-key budget, estimate left at a number under budget
    val history = spark.range(0, 100).select(concat(lit("k"), col("id")).as("fp"))
    val batch = spark.range(0, 5000)
      .select(concat(lit("k"), col("id")).as("fp"), col("id").as("v"))
    val got = Dedup.incrementalDedup(batch, history, "fp",
      expectedBatchKeys = 500, maxBloomKeys = 1000)
    // result must stay exact either way — and the plan must be the plain
    // anti join, provably: no bloom filter on the history scan means the
    // gate fired and the batch-keyed candidate broadcast was never built
    // (Catalyst may still auto-broadcast this fixture's tiny HISTORY
    // side — that broadcast is history-sized, not the OOM hazard)
    val p = got.queryExecution.executedPlan.toString
    assert(!p.contains("might_contain") && !p.contains("BloomFilter"),
      s"oversized batch must not take the bloom path: $p")
    assert(got.count() == 4900)
  }
}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Graph.triangleCount(edges.toDF("s", "d"), "s", "d").collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangleCount: hand-computed graphs") {
    // K4 has C(4,3)=4 triangles
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(tri(k4) == ((4L, 6L, 4L)))
    // a path has none
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 0L)))
    // K4 + pendant vertex: same 4 triangles, one more node/edge
    assert(tri(k4 :+ (3L, 9L)) == ((5L, 7L, 4L)))
    // duplicate / reversed / self-loop edges don't change the count
    assert(tri(k4 ++ Seq((1L, 0L), (2L, 2L), (0L, 1L))) == ((4L, 6L, 4L)))
  }

  test("triangleCount: a hub star plus one closing edge counts exactly 1") {
    // degree-ordered orientation: the hub (high degree) never fans out
    val star = (1L to 40L).map(i => (0L, i))
    assert(tri(star) == ((41L, 40L, 0L)))
    assert(tri(star :+ (1L, 2L)) == ((41L, 41L, 1L)))
  }
}
