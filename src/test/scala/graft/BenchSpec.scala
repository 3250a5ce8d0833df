package graft

/** The r5/r6 contract for the bench harness (r4 postmortem: BENCH_r04
  * rc=124 lost the whole round's perf artifact to ONE stall): a wedged
  * query must be reported as an error while every other query still
  * completes, the incremental summary survives on disk, and every
  * absorbed degradation is visible in the artifact's `absorbed` map.
  */
class BenchSpec extends SparkSpec {

  test("watchdog: a wedged query times out; the others complete; summary grows incrementally") {
    val runOne: String => Unit = {
      case "q_wedged" =>
        // wedged INSIDE a Spark job — the shape a real stall takes; the
        // watchdog must cancel the job group and move on
        spark.range(1).foreach(_ => Thread.sleep(600000L))
      case _ =>
        spark.range(100).write.format("noop").mode("overwrite").save()
    }
    val summaries = scala.collection.mutable.ArrayBuffer[String]()
    val (results, errors, absorbed, _, _, _) = Bench.run(spark,
      Seq("q_fast_a", "q_wedged", "q_fast_b"), runOne, "spec_sf",
      // wide enough that a cold-JIT fast query can't trip it (a 3 s cap
      // flaked once when this suite ran first in the JVM; 8 s flaked
      // once more under a loaded box at r6; 20 s flaked once at r9 when
      // the host measured 3-5x slow — only wedged paths ever wait this
      // long, so the width costs nothing in clean runs).
      // cancelAllOnTimeout = false: the session is shared with
      // concurrently-running suites (see the absorbed-stall test).
      timeoutMs = 30000, reps = 2, onQuery = s => summaries += s,
      cancelAllOnTimeout = false)

    val byName = results.toMap
    assert(byName("q_wedged") == -1.0)
    assert(errors("q_wedged").contains("timeout"))
    assert(byName("q_fast_a") > 0 && byName("q_fast_b") > 0,
      s"queries after the wedge must still run: $results")
    assert(errors.keySet == Set("q_wedged"))
    assert(absorbed.isEmpty, s"a -1 query is an error, not an absorption: $absorbed")
    // incremental persistence: one summary per query, each parseable and
    // containing everything benched so far
    assert(summaries.size == 3)
    assert(summaries(0).contains("q_fast_a") && !summaries(0).contains("q_wedged"))
    assert(summaries(2).contains("q_fast_a") && summaries(2).contains("q_wedged")
      && summaries(2).contains("q_fast_b"))
    assert(summaries.last.contains("\"q_wedged\":-1.0"))
    // clean runs carry an EMPTY absorbed map — the field is always present
    assert(summaries.last.contains("\"absorbed\":{}"), summaries.last)
  }

  test("headline is the lower MEDIAN of successful reps, with the raw " +
      "per-rep times attached to the summary (r11 item 6)") {
    assert(Bench.lowerMedian(Seq(5.0, 1.0, 2.0)) == 2.0)
    assert(Bench.lowerMedian(Seq(4.0, 1.0)) == 1.0)
    assert(Bench.lowerMedian(Seq(7.0)) == 7.0)
    val runOne: String => Unit = _ =>
      spark.range(10).write.format("noop").mode("overwrite").save()
    val summaries = scala.collection.mutable.ArrayBuffer[String]()
    val (results, _, _, repsMap, _, _) = Bench.run(spark, Seq("q_med"), runOne,
      "spec_sf", timeoutMs = 30000, reps = 3,
      onQuery = s => summaries += s, cancelAllOnTimeout = false)
    val reps = repsMap("q_med")
    assert(reps.length == 3)
    assert(results.toMap.apply("q_med") == Bench.lowerMedian(reps),
      s"headline must be the median, not the min: $reps")
    assert(summaries.last.contains("\"reps\":{\"q_med\":["),
      s"raw reps must ride the summary: ${summaries.last}")
  }

  test("a throwing query is recorded as an error, not a fake timing") {
    val runOne: String => Unit = {
      case "q_boom" => throw new RuntimeException("boom")
      case _ => spark.range(10).write.format("noop").mode("overwrite").save()
    }
    val (results, errors, absorbed, _, _, _) = Bench.run(spark, Seq("q_boom", "q_ok"), runOne,
      "spec_sf", timeoutMs = 30000, reps = 2)
    assert(results.toMap.apply("q_boom") == -1.0)
    assert(errors("q_boom").contains("boom"))
    assert(results.toMap.apply("q_ok") > 0)
    assert(absorbed.isEmpty)
  }

  test("transient stalls are absorbed: a later-rep wedge keeps the timing, " +
      "a first-rep wedge is retried once — and both are auditable") {
    // r5 field observation: a box stall wedged q_sparse_map's THIRD rep
    // after a clean 1.2 s first rep — the query must not be reported -1
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val runOne: String => Unit = { name =>
      calls(name) += 1
      val wedge = (name, calls(name)) match {
        case ("q_flaky_late", 2) => true  // wedges only on its 2nd rep
        case ("q_flaky_first", 1) => true // wedges only on its 1st rep
        case _ => false
      }
      if (wedge) spark.range(1).foreach(_ => Thread.sleep(600000L))
      else spark.range(10).write.format("noop").mode("overwrite").save()
    }
    val summaries = scala.collection.mutable.ArrayBuffer[String]()
    // cancelAllOnTimeout = false: this suite SHARES the session with
    // concurrently-running suites — the backstop would kill their jobs.
    // 30 s rep timeout: under a loaded box, cancellation propagation
    // alone has exceeded a 6 s grace (observed flake when run
    // concurrently with ContractSpec's Spark jobs), and 20 s flaked
    // once more at r9 on a 3-5x-degraded host.
    val (results, errors, absorbed, _, _, _) = Bench.run(spark,
      Seq("q_flaky_late", "q_flaky_first", "q_ok"), runOne, "spec_sf",
      timeoutMs = 30000, reps = 3, onQuery = s => summaries += s,
      cancelAllOnTimeout = false)
    val byName = results.toMap
    assert(byName("q_flaky_late") > 0, s"late wedge must keep rep-1 timing: $results")
    assert(byName("q_flaky_first") > 0, s"first-rep wedge must recover via retry: $results")
    assert(byName("q_ok") > 0)
    assert(errors.isEmpty, s"transient stalls must not surface as errors: $errors")
    // the absorbed wedge stops further reps: exactly 2 calls, not 3
    assert(calls("q_flaky_late") == 2, calls.toString)
    // r6: the absorption is no longer invisible — the artifact carries it
    // (the retried FIRST rep is not an absorption: its timing was never kept)
    assert(absorbed == Map("q_flaky_late" -> 1), absorbed.toString)
    assert(summaries.last.contains("\"absorbed\":{\"q_flaky_late\":1}"),
      summaries.last)
  }

  test("history medians: same-fixture runs only, error timings skipped, " +
      "even/odd run counts") {
    val lines = Seq(
      """{"queries":{"q_a":1.0,"q_b":0.5,"q_err":-1.0},"sf":"/d/sf0.1"}""",
      """{"queries":{"q_a":3.0,"q_b":0.7},"sf":"/d/sf0.1"}""",
      """{"queries":{"q_a":2.0},"sf":"/d/sf0.1"}""",
      """{"queries":{"q_a":99.0},"sf":"/d/sf0.01"}""", // other fixture: ignored
      "not json at all")
    val m = Bench.parseHistoryMedians(lines, "/d/sf0.1")
    assert(m("q_a") == 2.0, m.toString)             // odd count: middle of 1,2,3
    assert(math.abs(m("q_b") - 0.6) < 1e-12, m.toString) // even count: mean of 0.5,0.7
    assert(!m.contains("q_err"), "error (-1) timings must not enter the median")
  }

  test("history medians are windowed: runs beyond the last 6 age out") {
    // r8 verdict item 6: a genuine improvement must eventually LOWER the
    // median so the retry rule sees later regressions of the improved
    // query. 7 runs: one stale 10.0 followed by six 1.0 — the stale run
    // must not survive the window.
    val lines = """{"queries":{"q_a":10.0},"sf":"/d/sf0.1"}""" +:
      Seq.fill(6)("""{"queries":{"q_a":1.0},"sf":"/d/sf0.1"}""")
    assert(Bench.parseHistoryMedians(lines, "/d/sf0.1").apply("q_a") == 1.0)
    // the window counts same-fixture runs only: other-sf lines between
    // them must not push matching runs out of the window
    val mixed = """{"queries":{"q_a":10.0},"sf":"/d/sf0.1"}""" +:
      Seq.fill(10)("""{"queries":{"q_a":99.0},"sf":"/d/sf0.01"}""") :+
      """{"queries":{"q_a":1.0},"sf":"/d/sf0.1"}"""
    assert(Bench.parseHistoryMedians(mixed, "/d/sf0.1").apply("q_a") == 5.5)
  }

  test("scaling block: ratios against the newest SMALLER-SF run, " +
      "superlinear queries flagged, near-line queries watched") {
    val lines = Seq(
      """{"queries":{"q_lin":0.2,"q_quad":0.3,"q_tiny":0.01},"sf":"/d/sf0.01"}""",
      """{"queries":{"q_lin":0.3,"q_quad":0.2,"q_tiny":0.02,"q_watch":0.5},"sf":"/d/sf0.01"}""",
      """{"queries":{"q_lin":9.9},"sf":"/d/sf0.1"}""", // same sf: not a baseline
      // ADVICE r13: a LARGER-sf run landing in history must not erase
      // the smaller-SF baseline (the old "newest at any different sf"
      // rule silently dropped the audit here)
      """{"queries":{"q_lin":44.0},"sf":"/d/sf1.0"}""")
    val base = Bench.parseHistoryOtherSf(lines, "/d/sf0.1")
    assert(base.exists(_._1 == "/d/sf0.01"), base.toString)
    assert(base.get._2("q_quad") == 0.2) // NEWEST smaller-sf entry wins
    // r14: the NEAREST smaller SF is the baseline, not the newest of any
    // smaller SF — a later sf0.001 seed (for the exponent fit) must not
    // switch the single-pair audit to a 100x pair whose watch threshold
    // nothing real approaches
    val withTiny = lines :+
      """{"queries":{"q_lin":0.05},"sf":"/d/sf0.001"}"""
    assert(Bench.parseHistoryOtherSf(withTiny, "/d/sf0.1")
      .exists(_._1 == "/d/sf0.01"))
    assert(Bench.sfOf("/root/testdata/sf0.1").contains(0.1))
    assert(Bench.sfOf("/d/no-token").isEmpty)
    val results = Seq(
      "q_lin" -> 2.4,   // 8x at 10x data: linear-ish, unflagged
      "q_quad" -> 8.0,  // 40x: superlinear, flagged
      "q_tiny" -> 0.3,  // 15x but only +0.28s absolute: jitter, skip
      "q_watch" -> 3.0, // 6x at 10x data and >2s: near the line, watched
      "q_new" -> 1.0)   // no baseline: no ratio
    val block = Bench.scalingBlock(results, "/d/sf0.1", base).get
    assert(block.contains(""""baseline_sf":"/d/sf0.01""""), block)
    assert(block.contains(""""data_ratio":10.0"""), block)
    assert(block.contains(""""flagged":{"q_quad":40.0}"""), block)
    // watch tier (r13 item 6): >0.4x data ratio AND >2s, not flagged —
    // q_lin is 8x but only 2.4s... 2.4 > 2, ratio 8 > 4: watched too
    assert(block.contains(""""watch":{"""), block)
    assert(block.contains(""""q_watch":6.0"""), block)
    assert(!block.contains(""""watch":{}"""), block)
    assert(block.contains(""""q_lin":8.0""") && !block.contains("q_new"),
      block)
    // a run at the SMALLER sf must not emit inverted ratios
    assert(Bench.scalingBlock(results, "/d/sf0.01",
      Some("/d/sf0.1" -> Map("q_lin" -> 9.9))).isEmpty)
    // and the block rides the summary line
    val line = Bench.summaryLine(results, Map.empty, Map.empty, "/d/sf0.1",
      scaling = Some(block))
    assert(line.contains(""","scaling":{"baseline_sf""""), line)
  }

  test("scaling exponent: 3-SF log-log fit catches a quadratic hiding " +
      "under one ratio's small constant; sub-second slopes stay unflagged") {
    val lines = Seq(
      """{"queries":{"q_sq":0.05,"q_ln":0.2,"q_small":0.00001},"sf":"/d/sf0.001"}""",
      """{"queries":{"q_sq":9.0,"q_ln":2.0,"q_small":0.001},"sf":"/d/sf0.01"}""",
      """{"queries":{"q_sq":5.0,"q_two":1.0},"sf":"/d/sf0.01"}""") // newest wins per query
    val pts = Bench.parseHistorySfPoints(lines, "/d/sf0.1")
    assert(pts.keySet == Set(0.001, 0.01), pts.toString)
    // merged per query: q_sq's newest 0.01 time wins, q_ln's survives
    assert(pts(0.01) == Map("q_sq" -> 5.0, "q_ln" -> 2.0,
      "q_small" -> 0.001, "q_two" -> 1.0), pts.toString)
    // q_sq: 0.05 -> 5.0 -> 500.0 at 10x steps = slope 2 (quadratic);
    // q_ln: 0.2 -> 2.0 -> 20.0 = slope 1 (linear);
    // q_small: slope 2 but 0.1s at the top — the >1s guard keeps it
    // out of exp_flagged (its slope measures jitter-scale times)
    val ptsSq = Map(
      0.001 -> Map("q_sq" -> 0.05, "q_ln" -> 0.2, "q_small" -> 0.00001),
      0.01 -> Map("q_sq" -> 5.0, "q_ln" -> 2.0, "q_small" -> 0.001))
    val results = Seq("q_sq" -> 500.0, "q_ln" -> 20.0, "q_small" -> 0.1,
      "q_two" -> 3.0)
    val base = Some("/d/sf0.01" -> ptsSq(0.01).map { case (k, v) => k -> v })
    val block = Bench.scalingBlock(results, "/d/sf0.1", base, ptsSq).get
    assert(block.contains(""""exponent":{"""), block)
    assert(block.contains(""""q_sq":2.0"""), block)
    assert(block.contains(""""q_ln":1.0"""), block)
    assert(block.contains(""""exp_flagged":{"q_sq":2.0}"""), block)
    // q_two has only 2 points (one smaller SF) — no exponent for it
    assert(!block.contains(""""q_two":"""), block)
  }

  test("cpu_ms_by_query rides the summary and run() attributes task CPU " +
      "per query (r13 item 3)") {
    val line = Bench.summaryLine(Seq("q_a" -> 1.0), Map.empty, Map.empty,
      "/d/sf0.1", cpuMsByQuery = Map("q_a" -> 742L))
    assert(line.contains(""""cpu_ms_by_query":{"q_a":742}"""), line)
    val runOne: String => Unit = _ =>
      spark.range(0, 20000000L, 1, 8).select(
        org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("id"))))
        .write.format("noop").mode("overwrite").save()
    val (_, _, _, _, _, cpuMs) = Bench.run(spark, Seq("q_cpu"), runOne,
      "spec_sf", timeoutMs = 30000, reps = 2, cancelAllOnTimeout = false)
    // 40M hashed rows across 2 reps must register real task CPU; an
    // exact bound would flake, presence + positivity is the contract
    assert(cpuMs.contains("q_cpu") && cpuMs("q_cpu") > 0, cpuMs.toString)
  }

  test("fixture priming rides the summary: prime_s is the total and " +
      "prime_s_by_fixture each fixture's wall seconds") {
    val line = Bench.summaryLine(Seq("q_a" -> 1.0), Map.empty, Map.empty,
      "/d/sf0.1", prime = Some(Seq("ivf" -> 1.25, "lifecycle" -> 2.5)))
    assert(line.contains(""""prime_s":3.75,"prime_s_by_fixture":{"ivf":1.25,"lifecycle":2.5}"""), line)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("prime_s").asDouble() == 3.75, line)
    // a run that skipped priming carries no field
    assert(!Bench.summaryLine(Seq("q_a" -> 1.0), Map.empty, Map.empty,
      "/d/sf0.1").contains("prime_s"))
  }

  test("SPARK_GRAFT_BENCH_SKIP_PRIME accepts only 0 or 1") {
    assert(!Bench.skipPrimeFlag(None))
    assert(!Bench.skipPrimeFlag(Some("0")))
    assert(Bench.skipPrimeFlag(Some("1")))
    for (v <- Seq("true", "yes", "", " 1", "2")) {
      val e = intercept[IllegalArgumentException](Bench.skipPrimeFlag(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_SKIP_PRIME") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("gc_ms_by_query: only GC-heavy queries ride the summary") {
    val line = Bench.summaryLine(Seq("q_a" -> 1.0), Map.empty, Map.empty,
      "/d/sf0.1", gcMsByQuery = Map("q_a" -> 1200L, "q_b" -> 30L))
    assert(line.contains(""""gc_ms_by_query":{"q_a":1200}"""), line)
    assert(!line.contains("q_b"), line)
  }

  test("second-chance rule: isOutlier drives both selection and retry " +
      "exhaustion; budget is bounded") {
    // initial selection and the keep-retrying predicate are the SAME
    // rule — a kept time that no longer qualifies stops the retries
    assert(Bench.isOutlier(22.58, 0.9))
    assert(!Bench.isOutlier(2.0, 0.9))   // below 3x
    assert(!Bench.isOutlier(0.3, 0.05))  // 6x but under the 0.5s floor
    assert(!Bench.isOutlier(-1.0, 0.9))  // error timings never qualify
    // r8's carried case: 5.51s vs 2.69s median is NOT an outlier (2.1x)
    // — after one successful retry that lands there, retrying stops
    assert(!Bench.isOutlier(5.51, 2.69))
    assert(Bench.MaxOutlierRetries == 2)
  }

  test("outlier retry selection: 3x median AND 0.5s absolute floor, " +
      "no-median and error queries never retried") {
    val medians = Map("q_slow" -> 0.9, "q_tiny" -> 0.05, "q_ok" -> 1.0)
    val results = Seq(
      "q_slow" -> 22.58,  // the r7 q_auc shape: retry
      "q_tiny" -> 0.3,    // 6x median but only +0.25s absolute: jitter, skip
      "q_ok" -> 1.2,      // within 3x: skip
      "q_new" -> 50.0,    // no history: skip
      "q_dead" -> -1.0)   // error: skip
    val r = Bench.outliersToRetry(results, medians)
    assert(r == Seq(("q_slow", 22.58, 0.9)), r.toString)
  }

  test("recovered_error serialization: an end-of-run recovery keeps the " +
      "original failure text in the retried map, sanitized") {
    val rec = Bench.RetryRecord(-1.0, 0.88, 0.7, Seq(0.88), exhausted = false,
      error = Some("timeout after 60000ms \"quoted\"\nline2"))
    val line = Bench.summaryLine(Seq("q_r" -> 0.88), Map.empty, Map.empty,
      "/d/sf0.1", retried = Map("q_r" -> rec))
    assert(line.contains(""""q_r":{"was":-1.0,"now":0.88"""), line)
    assert(line.contains(""""recovered_error":"timeout after 60000ms"""), line)
    assert(!line.contains("\nline2"), "newlines must be sanitized: " + line)
    assert(line.contains(""""errors":{}"""), line)
    // an ordinary outlier retry carries NO recovered_error field
    val plain = Bench.summaryLine(Seq("q_r" -> 0.88), Map.empty, Map.empty,
      "/d/sf0.1", retried = Map("q_r" ->
        Bench.RetryRecord(3.0, 0.88, 0.7, Seq(0.88), exhausted = false)))
    assert(!plain.contains("recovered_error"), plain)
  }

  test("every Staging.cached label in the source tree is classified " +
      "heavy-or-cheap (r10 postmortem: the hardcoded-list guard missed " +
      "stageClustered/stageZoneRect/stageLifecycle and q_file_skipping " +
      "benched at 47.3s against a 0.34s steady state)") {
    import scala.jdk.CollectionConverters._
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val callRe = java.util.regex.Pattern.compile("""Staging\.cached\(""")
    val labelRe = java.util.regex.Pattern
      .compile("""Staging\.cached\(s"([a-z0-9]+):\$""")
    var nCalls = 0
    val labels = scala.collection.mutable.Set[String]()
    for (f <- files) {
      val text = java.nio.file.Files.readString(f)
      val cm = callRe.matcher(text)
      while (cm.find()) nCalls += 1
      val lm = labelRe.matcher(text)
      while (lm.find()) labels += lm.group(1)
    }
    // the definition site itself contains no call; every USE must follow
    // the s"label:$dir" convention or the label can't be enumerated here
    val nLabeled = {
      var n = 0
      for (f <- files) {
        val lm = labelRe.matcher(java.nio.file.Files.readString(f))
        while (lm.find()) n += 1
      }
      n
    }
    assert(nCalls == nLabeled, s"$nCalls Staging.cached call sites but only " +
      s"$nLabeled match the s\"label:$$dir\" key convention — a " +
      "nonconforming key cannot be classified by this guard")
    val heavy = graft.queries.Fixtures.primedFixtureNames.toSet
    val cheap = graft.queries.Fixtures.cheapFixtureNames
    assert((heavy & cheap).isEmpty, s"labels both heavy and cheap: ${heavy & cheap}")
    val unclassified = labels.toSet -- heavy -- cheap
    assert(unclassified.isEmpty, s"staging labels neither primed (heavy) nor " +
      s"allowlisted cheap: $unclassified — classify them in Fixtures or the " +
      "first timed rep pays the build under the watchdog")
    val stale = (heavy ++ cheap) -- labels
    assert(stale.isEmpty, s"classified labels with no call site: $stale")
    // the r10 trio specifically must stay primed
    for (f <- Seq("lifecycle", "clustered", "zonerect"))
      assert(heavy.contains(f), s"fixture '$f' missing from warmup priming")
  }

  test("a post-success throw is absorbed with a marker — never timing AND error") {
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val runOne: String => Unit = { name =>
      calls(name) += 1
      if (name == "q_late_boom" && calls(name) == 2)
        throw new RuntimeException("boom on rep 2")
      spark.range(10).write.format("noop").mode("overwrite").save()
    }
    val (results, errors, absorbed, _, _, _) = Bench.run(spark,
      Seq("q_late_boom", "q_ok"), runOne, "spec_sf",
      timeoutMs = 30000, reps = 3)
    assert(results.toMap.apply("q_late_boom") > 0,
      "the measured rep-1 timing must stand")
    assert(!errors.contains("q_late_boom"),
      s"a query with a valid timing must not also carry an error: $errors")
    assert(absorbed == Map("q_late_boom" -> 1), absorbed.toString)
    assert(calls("q_late_boom") == 2, "absorption must stop further reps")
  }
}
