package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: every registry query against
  * SPARK_GRAFT_SF_DIR, one JSON line out.
  *
  * Measurement notes: queries execute to a noop sink (full compute, no
  * collect/write cost — `count()` would let Catalyst prune away the
  * projections of narrow queries). A warmup pass primes JIT/codegen and
  * the parquet reader before anything is timed.
  *
  * Robustness (r4 postmortem — BENCH_r04 rc=124 lost the whole round's
  * perf artifact to one stall): the harness is built so a single wedged
  * query can never lose the run again.
  *   - every rep runs under a hard WATCHDOG timeout: on expiry the rep's
  *     job group is cancelled (plus cancelAllJobs as backstop), the query
  *     is recorded as -1 with a "timeout" error, and the loop moves on;
  *   - a `[bench] <name> rep <n>` stderr line precedes every rep, so a
  *     killed run localizes its culprit from the tail alone;
  *   - the summary JSON is rewritten after EVERY query, so even a
  *     hard-killed run leaves all completed timings on disk.
  */
object Bench {

  /** Numeric env knob with a LOUD fallback: a malformed value (typo'd
    * export) must not abort the whole bench run with a bare
    * NumberFormatException — the artifact is worth more than the knob.
    */
  private[graft] def envLong(name: String, default: Long): Long =
    sys.env.get(name) match {
      case Some(v) => v.toLongOption.getOrElse {
        System.err.println(
          s"[bench] WARNING: $name='$v' is not a number — using $default")
        default
      }
      case None => default
    }

  /** `SPARK_GRAFT_BENCH_SKIP_PRIME` parsed: unset or `0` primes, `1`
    * skips; any other value is refused by name. */
  private[graft] def skipPrimeFlag(value: Option[String]): Boolean =
    value match {
      case None | Some("0") => false
      case Some("1") => true
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_SKIP_PRIME='$v' must be 0 or 1")
    }

  /** Per-rep hard timeout. Generous: the slowest r4 query (q_pagerank)
    * ran 3.1 s at sf0.1; 60 s is 20× headroom, while still bounding a
    * 127-query run's worst case far under the driver's global limit.
    */
  val DefaultRepTimeoutMs: Long =
    envLong("SPARK_GRAFT_BENCH_TIMEOUT_MS", 60000L)

  private sealed trait RepOutcome
  private final case class RepOk(sec: Double) extends RepOutcome
  private final case class RepError(msg: String) extends RepOutcome
  /** `stillWedged`: the rep thread survived cancellation + interrupt +
    * grace wait — it is still executing concurrently and would pollute
    * any further rep of this query. */
  private final case class RepTimeout(stillWedged: Boolean) extends RepOutcome

  /** One benchmarked rep executed on a daemon thread under a watchdog.
    * On timeout: cancel the rep's job group (and all jobs — nothing else
    * is running), interrupt the thread (a driver-side wedge outside any
    * Spark job is unreachable by job cancellation), then report whether
    * the thread actually died. A rep wedged inside a Spark job fails
    * fast — cancellation fails the job and the awaiting action throws
    * without waiting for straggler tasks.
    */
  private def timedRep(spark: SparkSession, name: String, rep: Int,
                       timeoutMs: Long, cancelAllOnTimeout: Boolean = true)
                      (body: => Unit): RepOutcome = {
    System.err.println(s"[bench] $name rep $rep")
    val group = s"graft_bench_$name"
    val result = new java.util.concurrent.CompletableFuture[RepOutcome]()
    val t = new Thread(() => {
      val out =
        try {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          val t0 = System.nanoTime()
          body
          RepOk((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            RepError(Option(e.getMessage).getOrElse(e.getClass.getName))
        } finally spark.sparkContext.clearJobGroup()
      result.complete(out): Unit
    }, s"bench-$name-$rep")
    t.setDaemon(true) // a truly wedged rep must not block JVM exit
    t.start()
    try result.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[bench] $name rep $rep TIMEOUT after ${timeoutMs}ms")
        spark.sparkContext.cancelJobGroup(group)
        // backstop for jobs that escaped the group label — valid ONLY
        // when this loop owns the session (Bench.main). A test sharing
        // the session with concurrently-running suites must opt out, or
        // a wedge here kills an innocent suite's jobs.
        if (cancelAllOnTimeout) spark.sparkContext.cancelAllJobs()
        t.interrupt()
        // grace: if cancellation/interrupt unwedged the thread, collect
        // its (failed) outcome so the session is quiet before the next
        // query. Scaled with the rep timeout, floor 5 s: under heavy box
        // load cancellation propagation alone can exceed a fixed 5 s,
        // and declaring stillWedged too early forfeits the first-rep
        // retry (observed once in the r6 suite under a concurrent bench
        // chain). Capped at 30 s so a genuinely wedged rep under a large
        // rep timeout can't stall the suite for timeout/2 — cancellation
        // that hasn't propagated in 30 s isn't going to. The cost lands
        // only on an actual wedge. Join, not `result.get`: the rep thread
        // completes `result` just before it exits, so reading isAlive
        // right after `get` returns could count a finished rep as wedged.
        t.join(math.min(math.max(5000L, timeoutMs / 2), 30000L))
        RepTimeout(stillWedged = t.isAlive)
    }
  }

  /** Full audit record of one outlier retry (ADVICE r8: `now =
    * min(was, rep)` alone cannot distinguish 'retry confirmed the slow
    * time' from 'retry errored' — the per-rep raw times preserve the
    * evidence). `reps` holds every retry rep's ACTUAL measured seconds
    * (-1 for a rep that errored/timed out); `exhausted` = the kept time
    * is STILL above the outlier threshold after the retry budget.
    */
  final case class RetryRecord(was: Double, now: Double, median: Double,
                               reps: Seq[Double], exhausted: Boolean,
                               error: Option[String] = None)

  private[graft] def summaryLine(results: Seq[(String, Double)],
                          errors: collection.Map[String, String],
                          absorbed: collection.Map[String, Int],
                          sfDir: String,
                          sentinel: Option[(Double, Double)] = None,
                          jvm: Option[String] = None,
                          retried: collection.Map[String, RetryRecord]
                            = Map.empty,
                          calibration: Option[(Double, Double)] = None,
                          repsMap: collection.Map[String, Seq[Double]]
                            = Map.empty,
                          gcMsByQuery: collection.Map[String, Long]
                            = Map.empty,
                          scaling: Option[String] = None,
                          cpuMsByQuery: collection.Map[String, Long]
                            = Map.empty,
                          prime: Option[Seq[(String, Double)]] = None)
      : String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      s"\"" + k + "\":\"" +
        v.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200) + "\""
    }.mkString("{", ",", "}")
    val absJson = absorbed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val retriedJson = retried.map { case (k, r) =>
      // recovered_error: present ONLY on end-of-run error recovery —
      // preserves the mid-run failure text the recovery rep replaced
      val errField = r.error.map(e =>
        s""","recovered_error":"${e.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)}"""" + "")
        .getOrElse("")
      s"\"" + k + s"\":{\"was\":${r.was},\"now\":${r.now},\"median\":${r.median}" +
        s""","reps":${r.reps.mkString("[", ",", "]")},"exhausted":${r.exhausted}$errField}"""
    }.mkString(""","retried":{""", ",", "}")
    // session-interference probe (r6 postmortem: carried-query times
    // inflated +39% round-over-round with no code change): the SAME
    // query timed before the first and after the last registry query.
    // delta_pct > ~20 means later queries in THIS run were measured on a
    // degraded session (codegen-class/GC accumulation), not regressed.
    val sentJson = sentinel.map { case (first, last) =>
      val delta = if (first > 0) (last - first) / first * 100.0 else 0.0
      s""","sentinel":{"name":"$SentinelName","first":$first,"last":$last,"delta_pct":${math.round(delta * 10) / 10.0}}"""
    }.getOrElse("")
    // host-speed calibration (r9 verdict item 6): the SAME fixed-cost
    // CPU-bound probe timed at run start and end — a judge normalizes a
    // suspicious total against these two numbers instead of a manual
    // worktree A/B. Distinct from the sentinel: the sentinel is a
    // REGISTRY query bracketing session degradation; the calibration is
    // registry-independent and measures the BOX.
    val calJson = calibration.map { case (st, en) =>
      s""","calibration":{"start_s":$st,"end_s":$en}"""
    }.getOrElse("")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val jvmJson = jvm.map(j => s""","jvm":$j""").getOrElse("")
    def ms3(sec: Double) = math.round(sec * 1000) / 1000.0
    // raw per-rep seconds per query (headline = lower median of these):
    // first-rep staging artifacts stay visible in the artifact without
    // distorting the total (r11 verdict item 6)
    val repsJson =
      if (repsMap.isEmpty) ""
      else repsMap.map { case (k, rs) =>
        s"\"" + k + "\":" + rs.map(ms3).mkString("[", ",", "]")
      }.mkString(""","reps":{""", ",", "}")
    // per-query GC attribution, GC-heavy queries only (>500 ms across
    // the query's reps): the in-artifact evidence separating "this query
    // is slow" from "this query ran during a GC storm" (r12 item 1)
    val gcJson = {
      val heavy = gcMsByQuery.filter(_._2 > 500L)
      if (heavy.isEmpty) ""
      else heavy.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(""","gc_ms_by_query":{""", ",", "}")
    }
    // per-query executor-task CPU (r13 item 3): wall vs cpu separates
    // box contention (cpu flat, wall up) from engine cost (both up)
    val cpuJson =
      if (cpuMsByQuery.isEmpty) ""
      else cpuMsByQuery.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(""","cpu_ms_by_query":{""", ",", "}")
    // cross-SF scaling block (r12 item 6), prebuilt by main
    val scalingJson = scaling.map(s => s""","scaling":$s""").getOrElse("")
    // untimed fixture priming: its total and each fixture's wall seconds
    val primeJson = prime.map { p =>
      s""","prime_s":${ms3(p.map(_._2).sum)}""" + p.map { case (l, sec) =>
        s"\"" + l + "\":" + ms3(sec) }.mkString(""","prime_s_by_fixture":{""", ",", "}")
    }.getOrElse("")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"absorbed":$absJson$retriedJson$sentJson$calJson$jvmJson$repsJson$gcJson$cpuJson$scalingJson$primeJson,"sf":"$sfDir"}"""
  }

  /** Fixed-cost host-speed probe: a deterministic, registry- and
    * fixture-independent CPU-bound job (range → xxhash64 → sum; one
    * stage, no I/O, no shuffle), timed min-of-3. Run at bench start and
    * end; the pair lands in the artifact (`calibration`) so host
    * degradation can be separated from code regressions WITHOUT
    * re-running old commits (the r9 adjudication cost hours of exactly
    * that). min-of-3: the minimum is the least-interfered measurement —
    * it rises only when the box has no quiet 150M-row window at all,
    * which is precisely the signal.
    */
  private def timeCalibration(spark: SparkSession): Double = {
    // one UNTIMED execution first: the start probe runs on a cold JVM and
    // committed artifacts showed start_s at 1.7-2.8x end_s — pure JIT
    // warmup a judge would misread as host-speed change. min-of-3 within
    // one probe cannot absorb cross-call JIT; a warm first run can.
    spark.range(0, 150000000L, 1, 32)
      .select(bit_xor(xxhash64(col("id")))).collect(): Unit
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // bit_xor, not sum: 150M random 64-bit hashes overflow a Long sum
      // under ANSI; XOR does the same CPU work and cannot overflow
      spark.range(0, 150000000L, 1, 32)
        .select(bit_xor(xxhash64(col("id")))).collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    math.round(times.min * 1000) / 1000.0
  }

  /** Per-query timing medians from prior full-registry runs of the SAME
    * fixture (`bench_history.jsonl` — one JSON line per run). The median
    * across runs is the robust yardstick the outlier retry compares
    * against: a single interfered run in the history can't shift it much,
    * and queries the history has never seen simply have no median (no
    * retry). Unparseable lines and non-positive (error) timings are
    * skipped.
    */
  private[graft] def parseHistoryMedians(lines: Seq[String],
                                         sfDir: String,
                                         lastN: Int = 6): Map[String, Double] =
    // window to the LAST lastN runs (r8 verdict item 6): medians pooled
    // over all history never age out — after a genuine algorithmic
    // improvement a stale slow median keeps the retry rule blind to
    // regressions of the improved query
    parseHistoryRuns(lines).collect { case (sf, qs) if sf == sfDir => qs }
      .takeRight(lastN).flatten.groupBy(_._1).map { case (k, vs) =>
        val s = vs.map(_._2).sorted
        val med =
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
        k -> med
      }

  /** Every parseable history run as (sfDir, per-query seconds), in file
    * order. Shared by the outlier medians, the scaling baseline and the
    * exponent fit. */
  private[graft] def parseHistoryRuns(lines: Seq[String])
      : Seq[(String, Map[String, Double])] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.flatMap { l =>
      try {
        val n = mapper.readTree(l)
        val sf = n.path("sf").asText()
        if (sf.nonEmpty && n.has("queries"))
          Some(sf -> n.get("queries").properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble())
            .filter(_._2 > 0).toMap)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** The newest history run at the NEAREST strictly smaller scale
    * factor than `sfDir` — the baseline of the cross-SF scaling audit
    * (r12 verdict item 6). Strictly smaller, not merely different
    * (ADVICE r13): the newest different-SF entry disappears as a
    * baseline the moment a LARGER-SF run lands in history. Nearest
    * (largest) among the smaller SFs, not newest-of-any (r14): once an
    * sf0.001 run seeds the exponent fit, "newest smaller" would switch
    * the single-pair audit to a 100× pair whose 0.4×-data-ratio watch
    * threshold (40×) nothing real approaches — the 10× neighbour pair
    * is the one that discriminates. Returns (thatSfDir, its per-query
    * seconds). */
  private[graft] def parseHistoryOtherSf(lines: Seq[String], sfDir: String)
      : Option[(String, Map[String, Double])] =
    sfOf(sfDir).flatMap { thisSf =>
      val smaller = parseHistoryRuns(lines)
        .filter { case (sf, _) => sfOf(sf).exists(s => s > 0 && s < thisSf) }
      smaller.map { case (sf, qs) => (sfOf(sf).get, sf, qs) }
        .sortBy(_._1) // stable sort: ties keep file order, newest last
        .lastOption.map { case (_, sf, qs) => (sf, qs) }
    }

  /** Per-SF timing points for the exponent fit (r13 verdict item 7):
    * per (SF, query), the NEWEST positive time at every distinct SF
    * strictly smaller than `sfDir` — per query rather than per run, so
    * one query erroring in the newest run at an SF doesn't lose its
    * point while an older run still has it. The current run supplies
    * the largest-SF point itself. Keyed by the numeric SF. */
  private[graft] def parseHistorySfPoints(lines: Seq[String], sfDir: String)
      : Map[Double, Map[String, Double]] =
    sfOf(sfDir) match {
      case None => Map.empty
      case Some(thisSf) =>
        parseHistoryRuns(lines).flatMap { case (sf, qs) =>
          sfOf(sf).filter(s => s > 0 && s < thisSf).map(_ -> qs)
        }.groupBy(_._1).map { case (s, runs) =>
          s -> runs.map(_._2).reduce(_ ++ _) // later runs win per query
        }
    }

  /** The numeric scale factor embedded in an sf dir path ("…/sf0.01" →
    * 0.01); None when the path carries no sf token. */
  private[graft] def sfOf(sfDir: String): Option[Double] =
    "sf([0-9]*\\.?[0-9]+)".r.findFirstMatchIn(sfDir)
      .flatMap(m => m.group(1).toDoubleOption)

  /** The `scaling` artifact block: per-query time ratios of THIS run
    * against the newest history run at a different SF, flagging every
    * query whose ratio exceeds the DATA ratio (superlinear — e.g. >10×
    * time at 10× data) with >1 s absolute growth (sub-second queries
    * ratio-flag on pure jitter otherwise). The cheap empirical check of
    * every "scale-safe" claim: a quadratic operator cannot hide its
    * exponent from two SFs. Only computed when this run's SF is the
    * LARGER one — ratios of a downscale run mean nothing.
    *
    * Two tiers beyond `flagged` (r13 verdict items 6 + 7):
    *   - `watch`: ratio > 0.4× the data ratio AND > 2 s at this SF —
    *     not superlinear yet, but close enough to the line with enough
    *     absolute cost that the next 10× deserves a written exponent
    *     explanation (SCALE.md carries one per watched query);
    *   - `exponent` / `exp_flagged`: when history holds runs at ≥ 2
    *     distinct smaller SFs (`sfPoints`), a log-log least-squares
    *     slope per query over ≥ 3 points — a quadratic term hiding
    *     under one ratio's small constant cannot hide from the fit.
    *     Flagged past slope 1.2 with the same > 1 s jitter guard
    *     (per-stage floors dominate sub-second queries at EVERY SF, so
    *     their slopes measure Spark's constant, not the operator).
    */
  private[graft] def scalingBlock(results: Seq[(String, Double)],
                                  sfDir: String,
                                  baseline: Option[(String, Map[String, Double])],
                                  sfPoints: Map[Double, Map[String, Double]]
                                    = Map.empty)
      : Option[String] =
    for {
      (baseSfDir, baseQ) <- baseline
      thisSf <- sfOf(sfDir)
      baseSf <- sfOf(baseSfDir)
      if thisSf > baseSf && baseSf > 0
    } yield {
      val dataRatio = thisSf / baseSf
      val byName = results.toMap
      val ratios = results.collect {
        case (n, t) if t > 0 && baseQ.get(n).exists(_ > 0) =>
          n -> math.round(t / baseQ(n) * 100) / 100.0
      }
      val flagged = ratios.filter { case (n, r) =>
        r > dataRatio && byName(n) - baseQ(n) > 1.0 }
      val flaggedNames = flagged.map(_._1).toSet
      val watch = ratios.filter { case (n, r) =>
        !flaggedNames.contains(n) && r > 0.4 * dataRatio && byName(n) > 2.0 }
      // exponent fit: per query, newest time at each smaller SF plus
      // this run's time, slope of log t on log sf when >= 3 points
      val exponents = results.collect { case (n, t) if t > 0 =>
        val pts = sfPoints.toSeq.collect {
          case (s, qs) if qs.get(n).exists(_ > 0) => (s, qs(n))
        } :+ (thisSf, t)
        n -> pts
      }.collect { case (n, pts) if pts.map(_._1).distinct.size >= 3 =>
        val xs = pts.map(p => math.log(p._1))
        val ys = pts.map(p => math.log(p._2))
        val mx = xs.sum / xs.size
        val my = ys.sum / ys.size
        val varX = xs.map(x => (x - mx) * (x - mx)).sum
        val slope =
          if (varX == 0) 0.0
          else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / varX
        n -> math.round(slope * 100) / 100.0
      }
      val expFlagged = exponents.filter { case (n, e) =>
        e > 1.2 && byName(n) > 1.0 }
      def m(xs: Seq[(String, Double)]) = xs
        .map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val expJson =
        if (exponents.isEmpty) ""
        else s""","exponent":${m(exponents)},"exp_flagged":${m(expFlagged)}"""
      s"""{"baseline_sf":"$baseSfDir","data_ratio":$dataRatio,"flagged":${m(flagged)},"watch":${m(watch)}$expJson,"ratios":${m(ratios)}}"""
    }

  /** Queries whose measured min is a history OUTLIER: above `factor`× the
    * history median AND more than `minDeltaSec` absolute above it (the
    * absolute floor keeps sub-100 ms queries from retrying on pure
    * jitter). Returns (name, measured, median). Rationale (r7 postmortem):
    * the official r7 artifact carried ~60 s of box interference on 12
    * queries that min-of-3 could not absorb — q_auc measured 22.58 s
    * against a 6-run history median of ~0.9 s with zero code change. A
    * genuine regression re-measures just as slow on the retry and keeps
    * its honest time; machine noise does not.
    */
  /** The single outlier predicate shared by initial selection AND the
    * second-chance rule: a kept time that still satisfies it after a
    * retry has NOT been explained by transient interference.
    */
  private[graft] def isOutlier(t: Double, median: Double,
                               factor: Double = 3.0,
                               minDeltaSec: Double = 0.5): Boolean =
    t > 0 && t > median * factor && t - median > minDeltaSec

  /** Retry budget per outlier query (r8 verdict item 6: the single-shot
    * retry left q_approx_distinct at 2.1× its history median when the
    * interference window outlasted the one extra rep). Bounded at 2 so a
    * genuine regression costs at most two extra reps before its honest
    * slow time stands, flagged `exhausted`.
    */
  private[graft] val MaxOutlierRetries = 2

  private[graft] def outliersToRetry(results: Seq[(String, Double)],
                                     medians: Map[String, Double],
                                     factor: Double = 3.0,
                                     minDeltaSec: Double = 0.5)
      : Seq[(String, Double, Double)] =
    results.collect {
      case (n, t) if medians.get(n).exists(m =>
          isOutlier(t, m, factor, minDeltaSec)) =>
        (n, t, medians(n))
    }

  /** JIT code-cache / metaspace / heap snapshot as a JSON object — the
    * direct evidence for (or against) the code-cache-pressure hypothesis
    * behind registry-size bench inflation: 235 sequential codegen'd
    * queries load thousands of generated classes, and a CodeHeap near
    * its limit means C2 stopped compiling and later queries ran partly
    * interpreted. Reported at run start and end so the delta is in the
    * artifact.
    */
  private def jvmSnapshot(): String = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    def mb(n: Long): Long = n / (1024 * 1024)
    val code = pools.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
    val codeMax = pools.filter(_.getName.startsWith("CodeHeap"))
      .map(p => math.max(p.getUsage.getMax, 0L)).sum
    val meta = pools.find(_.getName == "Metaspace")
      .map(_.getUsage.getUsed).getOrElse(0L)
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    // the occupancy assertion (r7 directive): < 80% of the reserved cache,
    // or C2 compilation stops and late queries run partly interpreted —
    // a false flag in the END snapshot means raise ReservedCodeCacheSize
    val ok = codeMax <= 0 || code < codeMax * 8L / 10L
    // cumulative GC totals + spark-local shuffle/block dir footprint:
    // the two accumulation suspects behind the r12 official run's
    // in-session degradation (q_approx_distinct 3.3→9.3→23.7 s inside
    // one rep loop) — their start/end DELTAS are the direct evidence
    // for (or against) cleaner-debt pressure, in the artifact itself
    val (gcCount, gcMs) = gcTotals()
    val (sDirs, sFiles, sMb) = sparkLocalDirFootprint()
    s"""{"code_cache_mb":${mb(code)},"code_cache_max_mb":${mb(codeMax)},"code_cache_ok":$ok,"metaspace_mb":${mb(meta)},"heap_mb":${mb(heap)},"gc_count":$gcCount,"gc_ms":$gcMs,"local_dirs":$sDirs,"local_files":$sFiles,"local_mb":$sMb}"""
  }

  /** Cumulative executor-task CPU across the session, from task-end
    * listener events (r13 verdict item 3): the driver box runs ~2.2×
    * slower than builder sessions on WALL time with flat CPU time —
    * cpu≈flat / wall≈2× in the artifact proves box contention without
    * cross-referencing sessions. Listener delivery is asynchronous, so
    * per-query attribution can lag by the tasks still draining when the
    * query's action returns — milliseconds against multi-second queries,
    * and the error lands on the NEXT query, never lost.
    */
  private final class CpuTimeListener
      extends org.apache.spark.scheduler.SparkListener {
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) cpuNanos.addAndGet(m.executorCpuTime): Unit
    }
  }

  /** Cumulative (collections, milliseconds) across all collectors. */
  private def gcTotals(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(b.getCollectionCount, 0L)).sum,
      beans.map(b => math.max(b.getCollectionTime, 0L)).sum)
  }

  /** (dirCount, fileCount, MB) under this JVM's spark-local block
    * manager dirs (`blockmgr-*` below java.io.tmpdir / spark.local.dir):
    * shuffle files the ContextCleaner has not reclaimed yet. A walk over
    * metadata only — no file contents touched.
    */
  private def sparkLocalDirFootprint(): (Int, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val roots = (sys.props.get("spark.local.dir").toSeq ++
        sys.env.get("SPARK_LOCAL_DIRS").toSeq.flatMap(_.split(",")) :+
        System.getProperty("java.io.tmpdir", "/tmp"))
      .map(_.trim).filter(_.nonEmpty).distinct
    var dirs = 0; var files = 0L; var bytes = 0L
    roots.foreach { r =>
      val root = java.nio.file.Paths.get(r)
      if (java.nio.file.Files.isDirectory(root)) {
        val kids =
          try java.nio.file.Files.list(root).iterator().asScala.toSeq
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        kids.filter(_.getFileName.toString.startsWith("blockmgr-"))
          .foreach { bm =>
            dirs += 1
            try {
              val stream = java.nio.file.Files.walk(bm)
              try stream.iterator().asScala.foreach { p =>
                val f = p.toFile
                if (f.isFile) { files += 1; bytes += f.length() }
              } finally stream.close()
            } catch { case scala.util.control.NonFatal(_) => () }
          }
      }
    }
    (dirs, files, bytes / (1024 * 1024))
  }

  /** The fixed interference-probe query: mid-pack cost (~1 s at sf0.1),
    * window + shuffle shape, unchanged since r4 — a stable yardstick. */
  val SentinelName = "q_window_rank"

  /** Min-of-3 timing of the sentinel outside the main loop (its reps use
    * the same watchdog; failures yield None rather than polluting the
    * summary's queries/errors maps). */
  private def timeSentinel(spark: SparkSession, runOne: String => Unit,
                           timeoutMs: Long, tag: String): Option[Double] = {
    val times = (1 to 3).flatMap { rep =>
      timedRep(spark, s"sentinel_$tag", rep, timeoutMs)(runOne(SentinelName)) match {
        case RepOk(sec) => Some(sec)
        case _ => None
      }
    }
    times.minOption
  }

  private def writeSummary(line: String): Unit =
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "bench_summary.json")),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }

  /** The benchmark loop, factored for tests: min-of-`reps` per query with
    * a per-rep watchdog. Stall policy (two observed box stalls hit two
    * DIFFERENT queries in consecutive runs — one of them on its THIRD rep
    * after a clean 1.2 s first rep, so a timed-out rep is evidence about
    * the box, not the query):
    *   - a rep that times out (or throws) AFTER a successful rep is
    *     absorbed — the query keeps the min of its successful reps, no
    *     error recorded, no further reps attempted (the cancellation
    *     already cost ~60 s). Every absorption is COUNTED in the summary's
    *     `absorbed` map (empty in a clean run), so the artifact
    *     distinguishes "3 clean reps" from "1 clean rep + 2 absorbed
    *     stalls" — a deterministic later-rep wedge can't hide;
    *   - a FIRST rep that times out is retried once (transient stall →
    *     the retry succeeds and benching continues normally) — UNLESS the
    *     wedged thread survived cancellation + interrupt, in which case a
    *     retry would race the still-running rep on the same session and
    *     measure garbage: the query is recorded -1 immediately; only a
    *     query whose first rep times out twice — or throws — is recorded
    *     -1 with an error. Worst case per query stays ≤ 2×timeout.
    * A query never carries BOTH a valid timing and an `errors` entry:
    * post-success degradation goes to `absorbed`, -1 timings to `errors`.
    * `onQuery` fires after each query with the running summary line
    * (Bench.main persists it; tests observe it).
    */
  def run(spark: SparkSession, queries: Seq[String],
          runOne: String => Unit, sfDir: String,
          timeoutMs: Long = DefaultRepTimeoutMs, reps: Int = 3,
          onQuery: String => Unit = _ => (),
          hygieneEvery: Int = 0,
          cancelAllOnTimeout: Boolean = true)
      : (Seq[(String, Double)], Map[String, String], Map[String, Int],
         Map[String, Seq[Double]], Map[String, Long], Map[String, Long]) = {
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val absorbed = scala.collection.mutable.LinkedHashMap[String, Int]()
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val repsByQuery =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val gcMsByQuery =
      scala.collection.mutable.LinkedHashMap[String, Long]()
    val cpuMsByQuery =
      scala.collection.mutable.LinkedHashMap[String, Long]()
    val cpuListener = new CpuTimeListener
    spark.sparkContext.addSparkListener(cpuListener)
    try queries.zipWithIndex.foreach { case (name, idx) =>
      // session hygiene between queries (sentinel-inflation mitigation):
      // drop cached relations and nudge class-unload + ContextCleaner GC
      // so query #200 runs on the same session shape as query #1. Cheap
      // (<100 ms) next to any rep; staged fixtures live on disk, so
      // clearCache is safe. Spark's shuffle files and broadcasts are
      // reclaimed by the ContextCleaner only AFTER their dependency
      // objects are GC'd — without the nudge, hundreds of queries of
      // cleaner debt accumulate in the block dirs (the r12 suspect).
      if (hygieneEvery > 0 && idx > 0 && idx % hygieneEvery == 0) {
        try { spark.catalog.clearCache(); System.gc() }
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val gcMsBefore = gcTotals()._2
      val cpuNsBefore = cpuListener.cpuNanos.get()
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var stop = false
      var rep = 1
      var firstRepRetried = false
      while (!stop && rep <= reps) {
        timedRep(spark, name, rep, timeoutMs, cancelAllOnTimeout)(runOne(name)) match {
          case RepOk(sec) => times += sec; rep += 1
          case RepTimeout(_) if times.nonEmpty =>
            // transient box stall mid-query: keep what we measured, but
            // record the degradation where summary consumers can see it
            System.err.println(s"[bench] $name rep $rep timeout absorbed " +
              s"(median of ${times.size} successful reps stands)")
            absorbed(name) = absorbed.getOrElse(name, 0) + 1
            stop = true
          case RepError(msg) if times.nonEmpty =>
            // same policy for a post-success throw: the measured timing
            // stands, the degraded rep is marked absorbed — never both a
            // timing and an errors entry for one query
            System.err.println(s"[bench] $name rep $rep error absorbed " +
              s"($msg; median of ${times.size} successful reps stands)")
            absorbed(name) = absorbed.getOrElse(name, 0) + 1
            stop = true
          case RepTimeout(stillWedged) if !firstRepRetried && !stillWedged =>
            System.err.println(s"[bench] $name rep $rep timeout — retrying once")
            firstRepRetried = true // retry rep 1 exactly once
          case RepTimeout(stillWedged) =>
            errors(name) = s"timeout after ${timeoutMs}ms" +
              (if (stillWedged) " (thread survived cancellation)" else "")
            stop = true
          case RepError(msg) => errors(name) = msg; stop = true
        }
      }
      // headline = MEDIAN of the successful reps (r11 verdict item 6:
      // the min rewarded one lucky rep, and the artifact recorded one
      // rep's luck — the r11 official run carried q_apriori_triples at
      // 12.35 s against a same-HEAD 7.17 s). Lower median for even
      // counts so the headline is always an actually-measured time. The
      // raw per-rep times ride the summary (`reps`), so first-rep
      // staging artifacts stay detectable without polluting the total.
      results += name -> (if (times.isEmpty) -1.0 else lowerMedian(times.toSeq))
      repsByQuery(name) = times.toSeq
      gcMsByQuery(name) = gcTotals()._2 - gcMsBefore
      cpuMsByQuery(name) =
        (cpuListener.cpuNanos.get() - cpuNsBefore) / 1000000L
      onQuery(summaryLine(results.toSeq, errors, absorbed, sfDir,
        repsMap = repsByQuery))
    } finally spark.sparkContext.removeSparkListener(cpuListener)
    (results.toSeq, errors.toMap, absorbed.toMap, repsByQuery.toMap,
      gcMsByQuery.toMap, cpuMsByQuery.toMap)
  }

  /** The lower median: sorted middle element (exact middle for odd
    * counts, the lower of the two for even) — always a real measured
    * rep, never an interpolated average. */
  private[graft] def lowerMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.length - 1) / 2)
  }

  /** Bench's settings on top of [[SparkEntry.sessionSettings]]: shuffle
    * files and broadcasts are reclaimed only after their dependency
    * objects are GC'd, and 300+ sequential queries outrun the 30 min
    * default badly (r12 item 1 — cleaner-debt accumulation). */
  private[graft] val extraSettings = Seq("spark.cleaner.periodicGC.interval" -> "2min")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(extraSettings: _*)
    spark.sparkContext.setLogLevel("WARN")

    def runToNoop(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // calibration BEFORE any warmup/staging: the purest host reading —
    // nothing of the registry has touched the session yet (min-of-3
    // absorbs this probe's own first-run codegen)
    val calStart = if (args.isEmpty) Some(timeCalibration(spark)) else None

    // Warmup: prime codegen/JIT + parquet readers on a small, shuffling
    // query (not timed).
    // fixture-property guards FIRST and in their own try (ADVICE r8: when
    // the guard shared one try with the other warmup statements, an
    // earlier warmup failure silently skipped it and its bounded probe
    // job landed back inside q_knn_join's first timed rep)
    // local-dev knob: a FILTERED run of fixture-free queries pays ~9 min
    // of index staging it never touches — skip on request. Full-registry
    // runs (the driver's) ignore the knob: priming is load-bearing there.
    val skipPrime =
      skipPrimeFlag(sys.env.get("SPARK_GRAFT_BENCH_SKIP_PRIME")) && args.nonEmpty
    if (!skipPrime)
    try graft.queries.Curation.primeProbeGuard(spark, sfDir)
    catch { case _: Throwable => () }
    // heavy index fixtures staged NOW, untimed (r9 postmortem: staging
    // the IVF-PQ fixture inside q_ivfpq_append's first timed rep costs
    // ~45 s at sf0.1 — one breath of box load pushes it over the 60 s
    // watchdog and records a healthy query as -1). Per-stager try/catch
    // lives inside primeIndexFixtures; its wall seconds ride the summary.
    val prime =
      if (skipPrime) None
      else try Some(graft.queries.Fixtures.primeIndexFixtures(spark, sfDir))
      catch { case _: Throwable => None }
    prime.foreach(p => System.err.println(f"[bench] fixture prime: " +
      f"${p.map(_._2).sum}%.1f s total; " +
      p.map { case (l, sec) => f"$l $sec%.1f" }.mkString(", ")))
    // runtime side of the fixture-classification guard: any HEAVY-labeled
    // staging miss recorded after this point means a stager paid its
    // index build inside a timed rep — the exact r10 q_file_skipping
    // artifact (47.3 s recorded for a 0.34 s query)
    val missesAtPrimeEnd = graft.ops.Staging.missedKeys.length
    try {
      Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity"))).write.format("noop").mode("overwrite").save()
      runToNoop("q_broadcast_dim")
    } catch { case _: Throwable => () }

    // MEDIAN of 3 runs per query (r11 verdict item 6): robust on both
    // sides — one interfered rep can't inflate the headline (what the
    // old min also gave) AND one lucky rep can't deflate it (what the
    // min couldn't); the first rep doubles as per-query warmup and its
    // raw time stays in the summary's reps arrays. A query that
    // throws or times out is reported as -1 with its error — never as a
    // fake timing. Args (local dev only; the driver passes none) filter
    // the run to the named queries: unknown names FAIL loudly (a typo'd
    // dev run must not silently bench nothing), and a filtered run never
    // writes the summary file unless an explicit SPARK_GRAFT_BENCH_SUMMARY
    // path asks for it — otherwise a one-query run would clobber the
    // tracked full-registry artifact.
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else {
        val unknown = args.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.mkString(", ")}")
        args.toSeq.distinct.sorted
      }
    val persist: String => Unit =
      if (args.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_SUMMARY"))
        writeSummary
      else _ => ()
    // sentinel probe (full-registry runs only): the same fixed query
    // timed before and after the loop quantifies how much the session
    // itself degraded under 234 sequential codegen'd queries — the r6
    // "+39% with no code change" inflation, separated from real
    // regressions in the artifact itself.
    val doSentinel = args.isEmpty && SparkEntry.queries.contains(SentinelName)
    val jvmStart = jvmSnapshot()
    val sentFirst =
      if (doSentinel) timeSentinel(spark, runToNoop, DefaultRepTimeoutMs, "first")
      else None
    // hygiene EVERY query by default (was 25 — r12 item 1: the official
    // run showed in-session degradation the 25-query cadence did not
    // contain). Untimed; measured ~0.5-1 s/query of wall on a warm
    // session, bought back by the cleaner keeping shuffle dirs flat.
    // Env-tunable for A/B forensics.
    val hygieneEvery = envLong("SPARK_GRAFT_BENCH_HYGIENE", 1L).toInt
    val (results, errors, absorbed, repsByQuery, gcByQuery, cpuByQuery) =
      run(spark, names, runToNoop, sfDir, onQuery = persist,
        hygieneEvery = hygieneEvery)
    val latePrimed = graft.ops.Staging.missedKeys.drop(missesAtPrimeEnd)
      .map(_.takeWhile(_ != ':'))
      .filter(graft.queries.Fixtures.primedFixtureNames.contains)
    if (latePrimed.nonEmpty)
      System.err.println("[bench] WARNING: heavy fixtures staged INSIDE " +
        s"timed reps (prime failed or was skipped): ${latePrimed.mkString(", ")}" +
        " — their first-rep timings include the index build")
    // sentinel "last" probe BEFORE the retry block (ADVICE r8): the
    // first-vs-last delta brackets exactly the registry loop it was
    // designed to measure — retry reps must not sit inside the bracket
    val sentLast =
      if (doSentinel) timeSentinel(spark, runToNoop, DefaultRepTimeoutMs, "last")
      else None
    // history-aware outlier retry (r7 directive): min-of-3 cannot defend
    // against a sustained interference window (r7 lost ~60 s across 12
    // queries to one). Any query whose min landed far above its own
    // recent-history median gets up to MaxOutlierRetries extra reps at
    // the end of the run (a second chance only while the kept time STILL
    // qualifies as an outlier — r8's q_approx_distinct carried 2.1× its
    // median because one rep wasn't enough); the best time stands and
    // every retry is recorded in the summary's `retried` map — raw
    // per-rep times included — so the artifact shows what was
    // re-measured, why, and what each re-measurement actually said.
    val retried = scala.collection.mutable.LinkedHashMap[String, RetryRecord]()
    // prior runs, read once for the outlier medians and the scaling audit
    val historyPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl"))
    val history: Option[Seq[String]] =
      try {
        if (java.nio.file.Files.exists(historyPath)) {
          import scala.jdk.CollectionConverters._
          Some(java.nio.file.Files.readAllLines(historyPath).asScala.toSeq)
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    val medians = history.fold(Map.empty[String, Double])(
      parseHistoryMedians(_, sfDir))
    val finalResults = if (args.nonEmpty) results else {
      val toRetry = outliersToRetry(results, medians)
      if (toRetry.isEmpty) results
      else {
        System.err.println(s"[bench] retrying ${toRetry.size} history-outlier " +
          s"queries: ${toRetry.map(_._1).mkString(", ")}")
        val updated = toRetry.map { case (n, was, med) =>
          val reps = scala.collection.mutable.ArrayBuffer[Double]()
          var now = was
          var attempt = 0
          while (attempt < MaxOutlierRetries && isOutlier(now, med)) {
            timedRep(spark, n, 99 + attempt, DefaultRepTimeoutMs)(runToNoop(n)) match {
              case RepOk(sec) => reps += sec; now = math.min(now, sec)
              case _ => reps += -1.0 // failed retry: the measured time stands
            }
            attempt += 1
          }
          retried(n) = RetryRecord(was, now, med, reps.toSeq,
            exhausted = isOutlier(now, med))
          n -> now
        }.toMap
        results.map { case (n, t) => n -> updated.getOrElse(n, t) }
      }
    }
    // end-of-run ERROR recovery (r9 postmortem: a query whose first rep
    // hit the watchdog twice during a transient box wedge is recorded -1
    // even though the code is healthy — the targeted re-run measured the
    // same q_ivf_append at 0.88 s minutes later). Each errored query gets
    // ONE recovery rep after everything else has run: success replaces
    // the -1 and MOVES the original failure text into the retried map as
    // `recovered_error` (the artifact keeps the full story — what failed,
    // what the recovery measured); a failed recovery leaves the error
    // standing untouched. A genuine breakage fails here too, so nothing
    // real can hide.
    val (recoveredResults, finalErrors) =
      if (args.nonEmpty || errors.isEmpty) (finalResults, errors)
      else {
        val recovered = errors.toSeq.flatMap { case (n, err) =>
          System.err.println(s"[bench] $n errored mid-run ($err) — " +
            "one end-of-run recovery rep")
          timedRep(spark, n, 98, DefaultRepTimeoutMs)(runToNoop(n)) match {
            case RepOk(sec) =>
              retried(n) = RetryRecord(-1.0, sec, medians.getOrElse(n, -1.0),
                Seq(sec), exhausted = false, error = Some(err))
              Some(n -> sec)
            case _ =>
              retried(n) = RetryRecord(-1.0, -1.0, medians.getOrElse(n, -1.0),
                Seq(-1.0), exhausted = true, error = Some(err))
              None
          }
        }.toMap
        (finalResults.map { case (n, t) => n -> recovered.getOrElse(n, t) },
          errors -- recovered.keys)
      }
    // calibration end probe LAST — after retries and recovery, so the
    // pair brackets everything the total was measured under
    val calEnd = if (args.isEmpty) Some(timeCalibration(spark)) else None
    // cross-SF scaling audit (r12 item 6): ratios against the newest
    // history run at a smaller SF, superlinear queries flagged
    val scaling =
      if (args.nonEmpty) None
      else history.flatMap(lines => scalingBlock(recoveredResults, sfDir,
        parseHistoryOtherSf(lines, sfDir), parseHistorySfPoints(lines, sfDir)))
    val line = summaryLine(recoveredResults, finalErrors, absorbed, sfDir,
      sentFirst.zip(sentLast),
      Some(s"""{"start":$jvmStart,"end":${jvmSnapshot()}}"""),
      retried, calStart.zip(calEnd), repsByQuery, gcByQuery, scaling,
      cpuByQuery, prime)
    println(line)
    // Also persist the full line to the repo root: the driver's BENCH
    // tail window truncates long per-query maps, which makes exact
    // round-over-round totals unrecoverable from the artifact alone.
    persist(line)
    // ... and APPEND it to the history log: the driver benches twice per
    // round ("bench pair") and the second summary write overwrites the
    // first, which made r6's run-to-run variance unauditable. The JSONL
    // keeps every full-registry run, in order, across rounds.
    if (args.isEmpty)
      try java.nio.file.Files.write(historyPath,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
