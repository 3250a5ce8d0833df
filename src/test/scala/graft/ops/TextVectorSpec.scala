package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens / shingles / jaccard basics") {
    val df = Seq("a b c d").toDF("t")
    val got = df.select(
      TextOps.tokenCount(col("t")),
      TextOps.shingles(col("t"), 2),
      TextOps.shingles(col("t"), 9)).head()
    assert(got.getInt(0) == 4)
    assert(got.getSeq[String](1) == Seq("a b", "b c", "c d"))
    assert(got.getSeq[String](2) == Seq("a b c d")) // shorter than n → whole text
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y").select(TextOps.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-9) // |{b,c}| / |{a,b,c,d}|
  }

  test("phraseMatch: shift-and-intersect equals a brute-force sliding " +
      "window — overlaps, repeats, k=1..3, absent phrases") {
    val corpus = Seq(
      (1L, "a b a b a b"),     // overlapping "a b a" starts at 0 and 2
      (2L, "a a a a"),         // "a a" overlaps: starts 0,1,2
      (3L, "b a b"),
      (4L, "c"),
      (5L, "a b c a b c a"))
    val postings = corpus.toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p", "tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(sort_array(collect_list(col("p").cast("long"))).as("pos"))
    def brute(terms: Seq[String]): Map[Long, Long] =
      corpus.flatMap { case (id, t) =>
        val toks = t.split(" ").toSeq
        val n = toks.sliding(terms.length)
          .count(w => w.length == terms.length && w == terms)
        if (n > 0) Some(id -> n.toLong) else None
      }.toMap
    for (terms <- Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "a"),
        Seq("a", "a"), Seq("b", "c"), Seq("a", "b", "c"),
        Seq("z"), Seq("c", "c"))) {
      val got = TextOps.phraseMatch(postings, terms)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brute(terms), s"phrase $terms: $got vs ${brute(terms)}")
    }
  }

  test("proximityMatch: min pairwise distance equals brute force; " +
      "window filters; disjoint docs absent") {
    val corpus = Seq(
      (1L, "a x x x b"),      // dist 4
      (2L, "b a"),            // dist 1, order-free
      (3L, "a x b x x a"),    // min over pairs = 2
      (4L, "a a a"),          // no b → absent
      (5L, "b"))
    val postings = corpus.toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p", "tok")))
      .groupBy(col("doc_id"), col("tok"))
      .agg(sort_array(collect_list(col("p").cast("long"))).as("pos"))
    def brute(w: Long): Map[Long, Long] =
      corpus.flatMap { case (id, t) =>
        val toks = t.split(" ").zipWithIndex
        val ds = for {
          (ta, pa) <- toks if ta == "a"
          (tb, pb) <- toks if tb == "b"
        } yield math.abs(pa - pb).toLong
        ds.minOption.filter(_ <= w).map(id -> _)
      }.toMap
    for (w <- Seq(0L, 1L, 2L, 4L, 10L)) {
      val got = TextOps.proximityMatch(postings, "a", "b", w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brute(w), s"window $w: $got vs ${brute(w)}")
    }
  }

  test("langId picks the profile with most stopword hits; und when none") {
    val df = Seq(
      "the cat is in the house and it is warm",
      "der hund ist nicht mit der katze",
      "el gato es un animal y no es malo",
      "xyzzy qwerty plugh").toDF("t")
    val got = df.select(TextOps.langId(col("t"))).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "es", "und"))
  }

  test("custom LangId expression matches the HOF formulation on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
        TextOps.langId(col("text")).as("native"),
        ReferenceForms.langIdHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("fingerprint is md5 hex") {
    val got = Seq("abc").toDF("t").select(TextOps.fingerprint(col("t"))).head().getString(0)
    assert(got == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("simHash: identical texts equal; similar texts closer than dissimilar") {
    val df = Seq(
      ("d1", "spark window join filter scan group sort merge"),
      ("d2", "spark window join filter scan group sort merge"),
      ("d3", "spark window join filter scan group sort hash"),
      ("d4", "completely unrelated words about gardening tulips soil"))
      .toDF("id", "t").select(col("id"), TextOps.simHash(col("t")).as("h"))
    val h = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h("d1") == h("d2"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h("d1"), h("d3")) < ham(h("d1"), h("d4")))
  }

  test("unigramLogProbScore: hand-computed micro-nat means; rare-token doc scores lowest") {
    // corpus: "a a a b" + "a b" + "z" → N=7, counts a:4 b:2 z:1
    val df = Seq((1L, "a a a b"), (2L, "a b"), (3L, "z")).toDF("id", "text")
    val got = TextOps.unigramLogProbScore(df, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def lp(c: Long) = math.round(math.log(c / 7.0) * 1e6)
    val want = Seq(
      (1L, 4L, (3 * lp(4) + lp(2)) / 4),
      (2L, 2L, (lp(4) + lp(2)) / 2),
      (3L, 1L, lp(1)))
    assert(got == want)
    // the all-rare doc is the worst-scoring — the quality-gate contract
    assert(got.minBy(_._3)._1 == 3L)
  }

  test("minHashNearDups finds a near-identical pair, skips dissimilar docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (3L, "completely different content about databases and distributed query engines"),
      (4L, "spark catalyst optimizer rewrites logical plans into physical plans"))
      .toDF("doc_id", "text")
    val pairs = TextOps.minHashNearDups(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash LSH candidates form a superset of high-jaccard pairs (recall)") {
    // identical docs must always collide in every band
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val pairs = TextOps.minHashNearDups(docs, "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, threshold = 0.99)
    assert(pairs.count() == 1)
    assert(pairs.head().getDouble(2) == 1.0)
  }

  test("minHashNearDupsCapped: a degenerate identical-signature class " +
      "linearizes to its verified star; normal pairs untouched; capped " +
      "buckets accounted; cluster decisions equal the uncapped run") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (3L, "completely different content about databases and distributed query engines"))
    val degen = (100L to 139L).map(i => (i, "zz zz zz zz"))
    val docs = (base ++ degen).toDF("doc_id", "text")
    val (pairs, cappedBuckets) = TextOps.minHashNearDupsCapped(docs,
      "doc_id", "text", shingleN = 3, k = 32, bands = 16,
      threshold = 0.5, maxBucket = 8)
    val got = pairs.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // normal path: the near-identical base pair; overflow path: the
    // 39-pair star around the degenerate class's min id — NOT the
    // 780-pair clique
    val star = (101L to 139L).map(i => (100L, i)).toSet
    assert(got == star + ((1L, 2L)), s"got=${got.take(10)}")
    // every band of the degenerate class overflowed, loudly
    val cb = cappedBuckets.collect()
    assert(cb.length == 16 && cb.forall(_.getLong(2) == 40L))
    // the dedup DECISION matches the uncapped run: same components
    val un = TextOps.minHashNearDups(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 16, threshold = 0.5)
    val ccC = Dedup.connectedComponentsAuto(pairs, "id_a", "id_b")
    val ccU = Dedup.connectedComponentsAuto(un, "id_a", "id_b")
    assert(ccC.exceptAll(ccU).unionByName(ccU.exceptAll(ccC)).isEmpty)
    // cross-signature exemplars within one over-cap bucket still pair:
    // two DISTINCT degenerate classes colliding nowhere else stay
    // discoverable through their reps when they share a bucket — here
    // they don't share one, so just assert the residual path is empty
    // and nothing beyond star+normal leaked through
    assert(pairs.count() == 40L)
  }

  test("starResolve (ADVICE r13): a verify-failing exemplar re-routes " +
      "its failures into a fresh election instead of severing them; " +
      "rounds are bounded; drained residuals short-circuit") {
    // one sig group, members 1..4. The injected verifier: only (1,2)
    // and (3,4) are true near-dups — the min-id exemplar 1 FAILS verify
    // against 3 and 4 (the sig-identical-but-distinct corner a k-wide
    // MinHash collision can produce), so the old single-star would have
    // disconnected {3,4} even though their member-member edge passes.
    val members = Seq(1L, 2L, 3L, 4L)
      .map(i => (0, 0L, "sig", i)).toDF("band", "bucket", "sig", "id")
    val passing = Set((1L, 2L), (3L, 4L))
    def fakeVerify(cand: org.apache.spark.sql.DataFrame) = {
      val scores = passing.toSeq.toDF("pa", "pb").withColumn("j", lit(0.9))
      cand.join(scores, col("id_a") === col("pa") && col("id_b") === col("pb"),
          "left")
        .withColumn("jaccard", coalesce(col("j"), lit(0.1)))
        .drop("pa", "pb", "j")
    }
    val verifyCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val counted = (c: org.apache.spark.sql.DataFrame) => {
      verifyCalls.incrementAndGet(); fakeVerify(c)
    }
    val got = TextOps.starResolve(members, counted, 0.5, maxRounds = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // round 1: exemplar 1 keeps 2, loses 3 and 4; round 2: re-elected
    // exemplar 3 recovers 4 — connectivity no longer hinges on doc 1
    assert(got == passing, got.toString)
    assert(verifyCalls.get() == 2, s"residual drained after round 2: $verifyCalls")
    // round cap: with maxRounds = 1 the re-election never runs and the
    // failures end unpaired — the documented approximation, bounded
    val capped = TextOps.starResolve(members, fakeVerify, 0.5, maxRounds = 1)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), capped.toString)
    // an all-fail group terminates by retiring one exemplar per round
    // (never loops): 3 members resolve to zero pairs within the cap
    val allFail = Seq(10L, 11L, 12L)
      .map(i => (0, 0L, "s2", i)).toDF("band", "bucket", "sig", "id")
    val none = (c: org.apache.spark.sql.DataFrame) =>
      c.withColumn("jaccard", lit(0.0))
    assert(TextOps.starResolve(allFail, none, 0.5, maxRounds = 5).isEmpty)
    // empty input: no verify call at all (the common no-overflow path)
    val silent = (c: org.apache.spark.sql.DataFrame) => {
      fail("verify must not run on an empty overflow"); c
    }
    assert(TextOps.starResolve(members.limit(0), silent, 0.5, 3).isEmpty)
  }

  test("minHashCrossNearDups bucket cap: a degenerate CORPUS class " +
      "collapses to one exemplar per signature; probes still find it; " +
      "non-degenerate pairs and the uncapped run are unchanged") {
    val probe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "zz zz zz zz"), // probes the degenerate class
      (3L, "completely different content about databases and engines"))
      .toDF("doc_id", "text")
    val corpus = (Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank now")) ++
      (100L to 139L).map(i => (i, "zz zz zz zz"))) // 40-doc template class
      .toDF("doc_id", "text")
    val capped = TextOps.minHashCrossNearDups(probe, corpus,
      "doc_id", "text", shingleN = 3, k = 32, bands = 16,
      threshold = 0.5, maxBucket = 8)
      .select("id_new", "id_old")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe 1 matches corpus 10 through NORMAL buckets; probe 2 matches
    // the degenerate class through its EXEMPLAR only (min id 100) — one
    // verified pair instead of 40, nothing dropped
    assert(capped == Set((1L, 10L), (2L, 100L)), capped.toString)
    // uncapped finds the full 40-wide fan (decision identical, 40x rows)
    val un = TextOps.minHashCrossNearDups(probe, corpus,
      "doc_id", "text", shingleN = 3, k = 32, bands = 16, threshold = 0.5)
      .select("id_new", "id_old")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un == Set((1L, 10L)) ++ (100L to 139L).map(i => (2L, i)).toSet)
  }

  test("LSH near-dups ≡ brute-force all-pairs at registry params (recall 1 on fixture)") {
    // the q_minhash_lsh oracle (exact all-pairs Jaccard in DuckDB) is only
    // valid if the banding misses nothing — assert that on real fixture
    // data with the registry's exact parameters, at EVERY sf the driver's
    // correctness gate runs (sf0.01 is the gate; sf0.001 is the test sf)
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.Tables.documents(spark, sfDir)
      val lsh = TextOps.minHashNearDups(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = docs.select(col("doc_id"),
        array_distinct(TextOps.shingles(col("text"), 3)).as("sh"))
      val brute = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
        .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")))
        .filter(col("id_a") < col("id_b"))
        .filter(round(TextOps.jaccard(col("sa"), col("sb")), 4) >= 0.5)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == brute,
        s"$sfDir: missed=${(brute -- lsh).take(5)} extra=${(lsh -- brute).take(5)}")
      assert(brute.nonEmpty) // the fixture actually contains near-dups
    }
  }

  test("bpeMergeStats matches a sequential greedy reference on chain-heavy docs") {
    // adversarial: runs of the self-adjacent top pair (a,a) of every
    // parity, docs ENDING in `a` (the NULL-lead edge), and docs the
    // pair never touches — the run-parity window rule must agree with
    // a literal left-to-right fold on all of them
    val texts = Seq(
      "a a a",           // run of 2 candidates → 1 merge, trailing a kept
      "a a a a",         // 2 merges
      "a a a a a",       // 2 merges + trailing a
      "b a a b a a",     // two isolated merges
      "x y z",           // untouched
      "a",               // single token, ends in a
      "b a a a b a")     // run inside, ends in a
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

    // reference: exact bigram count for the top pair + sequential greedy
    val tokSeqs = texts.map(_.split("\\s+").toSeq)
    val pairCounts = tokSeqs.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val ((ra, rb), rc) = pairCounts.toSeq
      .sortBy { case ((x, y), c) => (-c, x + " " + y) }.head
    def greedy(ts: Seq[String]): (Int, Int) = { // (merges, len after)
      var i = 0; var m = 0; var out = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == ra && ts(i + 1) == rb) {
          m += 1; out += 1; i += 2
        } else { out += 1; i += 1 }
      }
      (m, out)
    }
    val refMerges = tokSeqs.map(greedy(_)._1).sum
    val refAfter = tokSeqs.map(greedy(_)._2).sum
    val refBefore = tokSeqs.map(_.length).sum

    val got = TextOps.bpeMergeStats(docs, "doc_id", "toks").head()
    assert(got.getString(0) == s"$ra $rb")
    assert(got.getLong(1) == rc.toLong, "pair_count")
    assert(got.getLong(2) == refMerges.toLong, "n_merges")
    assert(got.getLong(3) == refBefore.toLong, "tokens_before")
    assert(got.getLong(4) == refAfter.toLong, "tokens_after")
    // the fixture genuinely exercises chain overlap
    assert(refMerges < rc, "chains must make n_merges < pair_count")
  }

  test("bpeTrain: K rounds compose — each round's log row matches a " +
      "sequential multi-round greedy reference") {
    val texts = Seq(
      "a a a", "a a a a", "a a a a a", "b a a b a a", "x y z", "a",
      "b a a a b a", "c d c d c d")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

    // sequential reference: per round, global top pair (count desc, pair
    // asc), literal left-to-right greedy application, then iterate on
    // the merged corpus — the semantics bpeTrain claims distributively
    def applyPair(ts: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += ts(i); i += 1 }
      }
      out.toSeq
    }
    var corpus = texts.map(_.split("\\s+").toSeq)
    val ref = (1 to 3).map { r =>
      val counts = corpus.flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val ((a, b), pc) = counts.toSeq
        .sortBy { case ((x, y), c) => (-c, x + " " + y) }.head
      val before = corpus.map(_.length).sum
      val next = corpus.map(applyPair(_, a, b))
      val after = next.map(_.length).sum
      val merges = before - after
      corpus = next
      (r, s"$a $b", pc.toLong, merges.toLong, before.toLong, after.toLong)
    }

    val got = TextOps.bpeTrain(docs, "doc_id", "toks", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == ref, s"\n got=$got\n ref=$ref")
    // the loop genuinely progressed: each round strictly shrank the corpus
    assert(ref.forall { case (_, _, _, m, b, a) => m >= 1 && a == b - m })
  }

  test("bpeEncodeLog: encoding the training corpus with its own learned " +
      "merges reproduces the training log; fixed merges apply greedily " +
      "on held-out chains") {
    val texts = Seq(
      "a a a", "a a a a", "b a a b a a", "x y z", "a", "c d c d c d")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val trainLog = TextOps.bpeTrain(docs, "doc_id", "toks", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val merges = trainLog.map { case (_, p, _, _, _) =>
      val s = p.split(" "); (s(0), s(1)) }
    // BPE's defining identity: encode(train corpus, learned merges)
    // replays training's merge counts exactly, round by round
    val encLog = TextOps.bpeEncodeLog(docs, "doc_id", "toks", merges)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(encLog == trainLog, s"\n enc=$encLog\n train=$trainLog")
    // held-out greedy chain: "a a a a a" under merges [(a,a),(aa,aa)]
    // → rounds: 2 merges (greedy non-overlap) then 1 merge → [aaaa, a]
    val held = Seq((0L, "a a a a a")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val chain = TextOps.bpeEncodeLog(held, "doc_id", "toks",
        Seq(("a", "a"), ("aa", "aa")))
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(4))).toSeq
    assert(chain == Seq((1, 2L, 3L), (2, 1L, 2L)), chain.toString)
    // a merge whose pair never occurs logs zero and passes through
    val miss = TextOps.bpeEncodeLog(held, "doc_id", "toks",
        Seq(("q", "q")))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(miss == Seq((0L, 5L, 5L)), miss.toString)
  }

  test("single-pass bpeEncode equals the round-by-round replay " +
      "token-for-token; the fast log equals the replay log; one scan") {
    // real corpus slice: the fixture docs the registry query encodes
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val merges = TextOps.bpeTrain(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "toks", rounds = 4)
      .select(col("round"), col("pair")).collect()
      .sortBy(_.getInt(0))
      .map { r => val p = r.getString(1).split(" "); (p(0), p(1)) }.toSeq
    val held = docs.filter(col("doc_id") % 3 === 0)
    // THE equality that licenses the fast path: one broadcast-rank pass
    // per document == K global windowed passes, token for token
    val fast = TextOps.bpeEncode(held, "doc_id", "toks", merges)
    val replay = TextOps.bpeEncodeReplay(held, "doc_id", "toks", merges)
    val joined = fast.select(col("doc_id"), col("toks").as("fast"))
      .join(replay.select(col("doc_id"), col("toks").as("slow")),
        Seq("doc_id"), "full_outer")
    assert(joined.filter(col("fast").isNull || col("slow").isNull ||
      col("fast") =!= col("slow")).count() == 0,
      "single-pass encode diverged from the round-by-round replay")
    // and the one-pass log is value-identical to the replay log
    val fastLog = TextOps.bpeEncodeLogFast(held, "doc_id", "toks", merges)
      .collect().map(_.toSeq).toSeq
    val slowLog = TextOps.bpeEncodeLog(held, "doc_id", "toks", merges)
      .collect().map(_.toSeq).toSeq
    assert(fastLog == slowLog, s"\n fast=$fastLog\n slow=$slowLog")
    // the pass count, visible in the plan: the fast log reads its input
    // relation exactly once (the replay's plan reads it K times over
    // K localCheckpoints)
    val leaves = TextOps.bpeEncodeLogFast(held, "doc_id", "toks", merges)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.length == 1, s"expected one scan, got: $leaves")
    // chain semantics survive the local rewrite: "a a a a a" under
    // [(a,a),(aa,aa)] → [aaaa, a]
    import spark.implicits._
    val held1 = Seq((0L, "a a a a a")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val got = TextOps.bpeEncode(held1, "doc_id", "toks",
        Seq(("a", "a"), ("aa", "aa")))
      .head().getSeq[String](1)
    assert(got == Seq("aaaa", "a"), got.toString)
  }

  test("UnicodeNormalize: composition, compatibility folding, " +
      "idempotence, allocation-free ASCII passthrough semantics") {
    // \u escapes, never literal glyphs (a transcoder normalizing this
    // source file would silently gut the test)
    val rows = Seq(
      (1L, "e\u0301"),        // combining acute: NFC/NFKC compose to \u00E9
      (2L, "\uFB01"),         // fi ligature: NFKC folds, NFC must NOT
      (3L, "\u2460"),         // circled one: NFKC folds to '1'
      (4L, "\u00A0"),         // NBSP: NFKC folds to plain space
      (5L, "plain ascii"),    // identity under every form
      (6L, "\u00E9"))         // precomposed: NFC identity
    val df = rows.toDF("id", "s")
    val out = df.select(col("id"),
        TextOps.normalizeUnicode(col("s"), "NFC").as("nfc"),
        TextOps.normalizeUnicode(col("s"), "NFKC").as("nfkc"))
      .orderBy(col("id")).collect()
    assert(out(0).getString(1) == "\u00E9" && out(0).getString(2) == "\u00E9")
    assert(out(1).getString(1) == "\uFB01", "NFC must preserve compat chars")
    assert(out(1).getString(2) == "fi")
    assert(out(2).getString(2) == "1")
    assert(out(3).getString(2) == " ")
    assert(out(4).getString(1) == "plain ascii" &&
      out(4).getString(2) == "plain ascii")
    assert(out(5).getString(1) == "\u00E9")
    // idempotence: a normalized string is a fixed point
    val twice = df.select(
      TextOps.normalizeUnicode(
        TextOps.normalizeUnicode(col("s"), "NFKC"), "NFKC").as("t"),
      TextOps.normalizeUnicode(col("s"), "NFKC").as("o"))
    assert(twice.filter(col("t") =!= col("o")).count() == 0)
    // the full hygiene fold: control stripped, compat folded, casefolded
    val cleaned = Seq((1L, "AB\u0007 C\uFB01D"))
      .toDF("id", "s")
      .select(TextOps.unicodeClean(col("s")).as("c")).head().getString(0)
    assert(cleaned == "ab cfid", s"got '$cleaned'")
  }
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("cosine: identical → 1, orthogonal → 0, opposite → -1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 0f), Seq(-1f, 0f))).toDF("a", "b")
    val got = df.select(round(VectorOps.cosine(col("a"), col("b")), 6))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0, -1.0))
  }

  test("normalize yields unit vectors; zero vector passes through") {
    val df = Seq(Seq(3f, 4f), Seq(0f, 0f)).toDF("v")
    val got = df.select(round(VectorOps.l2Norm(VectorOps.normalize(col("v"))), 6))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("custom MinHashSig expression is bit-identical to the HOF formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 32
    val diff = docs.select(
        TextOps.minHashSignature(TextOps.shingles(col("text"), 3), k).as("native"),
        ReferenceForms.minHashSignatureHof(TextOps.shingles(col("text"), 3), k).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
    // empty shingle array → all-null signature, like array_min over empty
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(TextOps.minHashSignature(col("sh"), 4).as("sig"))
      .head().getSeq[Any](0)
    assert(empty == Seq(null, null, null, null))
  }

  test("vector kernels yield null on ragged lengths and zero norms, never NaN") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(1f, 1f, 1f)),   // ok
      (Seq(1f, 2f, 3f), Seq(1f)),           // ragged → null (HOF null-poisons too)
      (Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)))   // zero norm → null, not NaN
      .toDF("a", "b")
    val rows = df.select(
      VectorOps.dot(col("a"), col("b")).as("d"),
      VectorOps.cosine(col("a"), col("b")).as("c")).collect()
    assert(rows(0).getDouble(0) == 6.0 && !rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(!rows(2).isNullAt(0) && rows(2).getDouble(0) == 0.0)
    assert(rows(2).isNullAt(1)) // cosine of the zero vector is undefined
  }

  test("custom DotProduct expression is bit-identical to the HOF fold") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val both = embs.select(
      VectorOps.dot(col("embedding"), col("embedding")).as("native"),
      VectorOps.dotHof(col("embedding"), col("embedding")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("cosineTopK returns k rows ordered by score desc") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = embs.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val top = VectorOps.cosineTopK(embs.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", q, 5).collect()
    assert(top.length == 5)
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("annTopK finds planted near-neighbors (the LSH guarantee regime)") {
    import spark.implicits._
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = embs.filter(col("vec_id") === 0).head().getSeq[Float](1)
    // plant 10 close neighbors of the query (q + small noise) into the corpus
    val rng = new scala.util.Random(7)
    val planted = (1 to 10).map { i =>
      (10000L + i, q.map(x => x * 0.95f + rng.nextGaussian().toFloat * 0.05f))
    }.toDF("vec_id", "embedding")
    val corpus = embs.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding")).union(planted)
    val exact = VectorOps.cosineTopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.forall(_ > 10000L)) // sanity: planted vectors ARE the top-10
    val ann = VectorOps.annTopK(corpus, "vec_id", "embedding", q,
      k = 10, dim = 64, nBits = 8).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ann).size
    assert(recall >= 8, s"ANN recall too low on planted neighbors: $recall/10")
  }

  test("measured recall@10 vs exact cosineTopK on the real fixture (LSH and IVF)") {
    // not planted neighbors — the registry queries' own corpus and query
    // vector, so this is the recall a user of q_ann_topk/q_ann_ivf gets.
    // Pinned at BOTH the test sf and the driver's correctness-gate sf
    // (sf0.01): the q_ann_* oracles assert recall_ge_08 there, so a
    // recall dip below 0.8 at the gate must be caught here first.
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = embs.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val corpus = embs.filter(col("vec_id") =!= 0)
      val exact = VectorOps.cosineTopK(corpus, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      // registry parameters — q_ann_topk / q_ann_ivf settings exactly
      val lsh = VectorOps.annTopK(corpus, "vec_id", "embedding", q,
        k = 10, dim = 64, nBits = 8, tables = 16)
        .collect().map(_.getLong(0)).toSet
      val idx = VectorOps.ivfIndex(corpus, "vec_id", "embedding", nCentroids = 8)
      val ivf = VectorOps.ivfTopK(idx, "vec_id", "embedding", q, k = 10, nProbe = 6)
        .collect().map(_.getLong(0)).toSet
      val (rLsh, rIvf) =
        ((exact intersect lsh).size / 10.0, (exact intersect ivf).size / 10.0)
      info(f"recall@10 on $sfDir: LSH=$rLsh%.1f IVF=$rIvf%.1f")
      assert(rLsh >= 0.8, s"LSH recall@10 $rLsh < 0.8 at $sfDir")
      assert(rIvf >= 0.8, s"IVF recall@10 $rIvf < 0.8 at $sfDir")
    }
  }

  test("ivfIndexDeterministic: identical centroids and assignment at any partitioning") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val a = VectorOps.ivfIndexDeterministic(embs.repartition(3), "vec_id", "embedding", 8)
    val b = VectorOps.ivfIndexDeterministic(embs.repartition(13), "vec_id", "embedding", 8)
    // ML KMeans fails exactly this check (k-means|| init samples follow the
    // partitioning); the deterministic Lloyd is the partition-invariant build
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    val mismatch = a.assigned.select(col("vec_id"), col("centroid"))
      .join(b.assigned.select(col("vec_id"), col("centroid").as("c2")), "vec_id")
      .filter(col("centroid") =!= col("c2")).count()
    assert(mismatch == 0)
  }

  test("quantize127: max-abs scaling to ±127 longs; zero vector stays zero") {
    val rows = Seq(Seq(0.5f, -1.0f, 0.25f), Seq(0f, 0f, 0f), Seq(2f, 4f, -4f))
      .toDF("v").select(VectorOps.quantize127(col("v"))).collect()
      .map(_.getSeq[Long](0))
    assert(rows(0) == Seq(64L, -127L, 32L))  // round(0.5*127/1)=63.5→64 HALF_UP
    assert(rows(1) == Seq(0L, 0L, 0L))
    assert(rows(2) == Seq(64L, 127L, -127L))
  }

  test("ivfAppend writes only the batch's files; probe parity with a frozen-quantizer rebuild") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val existing = embs.filter(col("vec_id") % 5 =!= 2)
    val batch = embs.filter(col("vec_id") % 5 === 2)
    val idx = VectorOps.ivfIndexDeterministic(existing, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append_spec")
    val path = dir.resolve("index").toString
    try {
      VectorOps.ivfWrite(idx, path)
      def dataFiles: Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSet
      }
      val before = dataFiles
      VectorOps.ivfAppend(batch, idx.centroids, path, "vec_id", "embedding")
      val after = dataFiles
      // incremental contract: every pre-existing file survives untouched,
      // and the append contributed at least one new file
      assert(before.subsetOf(after) && after.size > before.size,
        s"append must only add files: before=${before.size} after=${after.size}")
      // content parity: the appended index holds exactly the union under
      // the frozen quantizer's assignment
      val want = embs.select(col("vec_id"),
        VectorOps.ivfAssign(col("embedding"), idx.centroids).as("centroid"))
      val got = spark.read.parquet(path).select(col("vec_id"), col("centroid"))
      assert(got.count() == embs.count())
      assert(got.join(want, Seq("vec_id"))
        .filter(got("centroid") =!= want("centroid")).count() == 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  test("ivfPqAppend writes only the batch's code files; codes identical to a " +
      "frozen-codebook re-encode") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val existing = embs.filter(col("vec_id") % 5 =!= 2)
    val batch = embs.filter(col("vec_id") % 5 === 2)
    val idx = VectorOps.ivfIndexDeterministic(existing, "vec_id", "embedding", 8)
    val model = VectorOps.pqTrain(existing, "vec_id", "embedding",
      m = 16, dim = 64, k = 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_append_spec")
    val path = dir.resolve("codes").toString
    try {
      VectorOps.pqEncode(existing, "vec_id", "embedding", model)
        .join(existing.select(col("vec_id").as("vid"),
          VectorOps.ivfAssign(col("embedding"), idx.centroids).as("centroid")),
          "vid")
        .write.partitionBy("centroid").parquet(path)
      def dataFiles: Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSet
      }
      val before = dataFiles
      VectorOps.ivfPqAppend(batch, idx.centroids, model, path,
        "vec_id", "embedding")
      val after = dataFiles
      // incremental contract: every pre-existing code file survives
      // untouched, the append only adds
      assert(before.subsetOf(after) && after.size > before.size,
        s"append must only add files: before=${before.size} after=${after.size}")
      // code parity: pqEncode is deterministic under frozen codebooks, so
      // the appended index's codes equal a full re-encode of the union
      val want = VectorOps.pqEncode(embs, "vec_id", "embedding", model)
        .select(col("vid"), col("codes").as("codes_w"))
      val got = spark.read.parquet(path).select(col("vid"), col("codes"))
      assert(got.count() == embs.count())
      assert(got.join(want, "vid")
        .filter(col("codes") =!= col("codes_w")).count() == 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  test("nearDupCosine finds planted near-duplicates within a block, not across") {
    val df = Seq(
      (1L, "blk1", Seq(1f, 0f, 0f)),
      (2L, "blk1", Seq(0.99f, 0.1f, 0f)),
      (3L, "blk1", Seq(0f, 1f, 0f)),
      (4L, "blk2", Seq(1f, 0f, 0f))).toDF("id", "label", "vec")
    val pairs = VectorOps.nearDupCosine(df, "id", "vec", "label", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 4 is identical to 1 but in another block
  }

  test("lshSignature is deterministic and separates distant vectors") {
    val df = Seq(Seq(1f, 2f, 3f, 4f), Seq(1f, 2f, 3f, 4f), Seq(-1f, -2f, -3f, -4f))
      .toDF("v")
    val sigs = df.select(VectorOps.lshSignature(col("v"), 4, 8)).collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2)) // opposite vector flips every hyperplane bit
  }

  test("semanticDedup: removed rows have a lower-id twin above threshold; " +
      "survivors have none within their bucket") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val removed = VectorOps.semanticDedup(emb, "vec_id", "embedding",
      dim = 64, nBits = 4, threshold = 0.35)
    val rows = removed.collect()
    assert(rows.nonEmpty)
    // every removed row names a senior twin and a qualifying score
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(0), s"kept_id !< dup_id: $r")
      assert(r.getDouble(3) >= 0.35, s"score below threshold: $r")
    }
    // ground truth from first principles: recompute buckets + exact
    // cosine with the OTHER formulations (HOF dot, brute-force pairs)
    val withSig = emb.select(col("vec_id"),
      VectorOps.lshSignature(col("embedding"), 64, 4).as("bucket"),
      col("embedding"))
    val a = withSig.select(col("bucket"), col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = withSig.select(col("bucket"), col("vec_id").as("ib"), col("embedding").as("eb"))
    val truth = a.join(b, "bucket").filter(col("ia") < col("ib"))
      .filter(round(VectorOps.dotHof(col("ea"), col("eb")) /
        (sqrt(VectorOps.dotHof(col("ea"), col("ea"))) *
         sqrt(VectorOps.dotHof(col("eb"), col("eb")))), 4) >= 0.35)
      .select(col("ib")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == truth)
  }

  test("adversarial all-near-duplicate corpus: the triangle-split guard bounds " +
      "hot-bucket pair tasks and is bit-identical to the unsplit join") {
    // every vector is a near-duplicate of every other (several EXACT
    // duplicates included) → one hot LSH bucket that extra signature
    // bits cannot split: identical vectors share every hyperplane sign.
    // This is the O(bucket²) worst case the guard exists for.
    val vecs = (0L until 300L).map { i =>
      (i, "b", Seq(1f, (i % 7).toFloat * 1e-4f, (i % 13).toFloat * 1e-4f, 0f))
    }
    val df = vecs.toDF("id", "label", "vec")
    // exactness of the split: pair set identical to the unguarded join
    val guarded = VectorOps.nearDupCosine(df, "id", "vec", "label", 0.99,
      maxBlock = 50)
    val plain = VectorOps.nearDupCosine(df, "id", "vec", "label", 0.99)
    assert(guarded.exceptAll(plain).isEmpty && plain.exceptAll(guarded).isEmpty)
    assert(guarded.count() == 300L * 299 / 2) // all pairs qualify

    // end-to-end under semanticDedup's guard: everything but the global
    // minimum id is removed, and the result matches the unguarded run
    val emb = vecs.map { case (i, _, v) => (i, v) }.toDF("vec_id", "embedding")
    val dedupGuarded = VectorOps.semanticDedup(emb, "vec_id", "embedding",
      dim = 4, nBits = 4, threshold = 0.99, maxBucket = 50)
    val dedupPlain = VectorOps.semanticDedup(emb, "vec_id", "embedding",
      dim = 4, nBits = 4, threshold = 0.99, maxBucket = Long.MaxValue)
    val got = dedupGuarded.collect()
    assert(got.map(_.getLong(0)).toSet == (1L until 300L).toSet)
    got.foreach(r => assert(r.getLong(1) == 0L, s"kept_id != 0: $r"))
    assert(dedupGuarded.exceptAll(dedupPlain).isEmpty &&
      dedupPlain.exceptAll(dedupGuarded).isEmpty)
  }

  test("ivfProbeCells: cell 1 equals ivfAssign on every real vector; " +
      "cells are distinct and within range") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val idx = VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 8)
    val cells = embs.select(
      VectorOps.ivfAssign(col("embedding"), idx.centroids).as("assigned"),
      VectorOps.ivfProbeCells(col("embedding"), idx.centroids, 3).as("probe"))
    // batched probing and index assignment must never disagree on cell 1
    assert(cells.filter(col("probe")(0) =!= col("assigned")).count() == 0)
    val bad = cells.filter(
      size(array_distinct(col("probe"))) =!= 3 ||
        exists(col("probe"), c => c < 0 || c >= 8)).count()
    assert(bad == 0, "probe cells must be 3 distinct in-range indexes")
  }

  test("manifest versions: roundtrip, duplicate-version commit refused, " +
      "pinned read invisible to a later append") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val base = embs.filter(col("vec_id") % 5 =!= 2)
    val idx = VectorOps.ivfIndexDeterministic(base, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_versions_spec")
    val path = dir.resolve("index").toString
    try {
      VectorOps.ivfWrite(idx, path)
      val v1Files = VectorOps.listIndexFiles(spark, path)
      VectorOps.writeManifest(spark, path, 1, v1Files)
      assert(VectorOps.readManifest(spark, path, 1) == v1Files)
      // a version is immutable: re-committing v1 must fail loudly
      intercept[Exception] {
        VectorOps.writeManifest(spark, path, 1, v1Files)
      }
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2),
        idx.centroids, path, "vec_id", "embedding")
      VectorOps.writeManifest(spark, path, 2, VectorOps.listIndexFiles(spark, path))
      val v1 = VectorOps.readIndexVersion(spark, path, 1)
      val v2 = VectorOps.readIndexVersion(spark, path, 2)
      assert(v1.count() == base.count(), "pinned v1 must hold exactly the base rows")
      assert(v1.filter(col("vec_id") % 5 === 2).count() == 0,
        "appended rows must be invisible to the pinned v1 read")
      assert(v2.count() == embs.count(), "v2 must hold the full union")
      assert(v1.columns.contains("centroid"),
        "basePath read must recover the partition column")
      // a missing version must fail, never silently fall back to a listing
      intercept[Exception] { VectorOps.readManifest(spark, path, 3) }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  test("versioned compaction + vacuum: old readers keep working until " +
      "vacuum, referenced files survive, orphans reclaimed exactly") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val base = embs.filter(col("vec_id") % 5 =!= 2)
    val idx = VectorOps.ivfIndexDeterministic(base, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_vacuum_spec")
    val path = dir.resolve("index").toString
    try {
      VectorOps.ivfWrite(idx, path)
      VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2),
        idx.centroids, path, "vec_id", "embedding")
      VectorOps.writeManifest(spark, path, 2, VectorOps.listIndexFiles(spark, path))
      val v2Count = VectorOps.readIndexVersion(spark, path, 2).count()
      val (rewritten, fromFiles, toFiles) =
        VectorOps.ivfCompactVersioned(spark, path, 2, 3)
      assert(rewritten >= 1 && toFiles < fromFiles,
        s"append debt must compact: $rewritten rewritten, $fromFiles -> $toFiles")
      // compaction is write-new: BOTH versions serve until vacuum
      assert(VectorOps.readIndexVersion(spark, path, 2).count() == v2Count)
      assert(VectorOps.readIndexVersion(spark, path, 3).count() == v2Count)
      // vacuum with an empty keep set must be impossible to express
      intercept[IllegalArgumentException] {
        VectorOps.ivfVacuum(spark, path, Seq.empty)
      }
      val (deleted, kept) = VectorOps.ivfVacuum(spark, path, Seq(3))
      assert(deleted >= 1, "superseded multi-files must be reclaimed")
      assert(kept == toFiles, s"kept $kept must equal v3's $toFiles files")
      assert(VectorOps.listIndexFiles(spark, path).toSet ==
        VectorOps.readManifest(spark, path, 3).toSet,
        "post-vacuum listing must be exactly the kept manifest")
      assert(VectorOps.readIndexVersion(spark, path, 3).count() == v2Count,
        "the kept version must be untouched by vacuum")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  test("MOR deletes: logical commit moves no files, tombstones accumulate " +
      "across commits, physical apply rewrites only affected partitions") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val idx = VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_mor_spec")
    val path = dir.resolve("index").toString
    try {
      VectorOps.ivfWrite(idx, path)
      VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
      val all = embs.count()
      // two successive logical deletes: tombstones must ACCUMULATE
      VectorOps.commitDeletes(spark, path, 1, 2,
        embs.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      VectorOps.commitDeletes(spark, path, 2, 3,
        embs.filter(col("vec_id") % 7 === 5).select(col("vec_id")))
      assert(VectorOps.readManifest(spark, path, 3) ==
        VectorOps.readManifest(spark, path, 1),
        "logical deletes must never touch the file list")
      val doomed = embs.filter(col("vec_id") % 7 === 3
        || col("vec_id") % 7 === 5).count()
      val mor3 = VectorOps.readIndexVersionMor(spark, path, 3, "vec_id")
      assert(mor3.count() == all - doomed,
        "v3 MOR must subtract BOTH commits' tombstones")
      // v2 sees only the first commit; v1 sees everything
      assert(VectorOps.readIndexVersionMor(spark, path, 2, "vec_id").count()
        == all - embs.filter(col("vec_id") % 7 === 3).count())
      assert(VectorOps.readIndexVersionMor(spark, path, 1, "vec_id").count() == all)
      val (rewritten, deleted) = VectorOps.applyDeletes(spark, path, 3, 4, "vec_id")
      assert(deleted == doomed, s"physical apply must drop exactly $doomed, got $deleted")
      assert(rewritten >= 1 && rewritten <= 8, rewritten.toString)
      val v4 = VectorOps.readIndexVersion(spark, path, 4)
      assert(v4.count() == all - doomed)
      assert(VectorOps.readDeletes(spark, path, 4).isEmpty,
        "the applied version must carry no sidecar")
      // applying when nothing is pending is a pure-metadata commit
      val (r2, d2) = VectorOps.applyDeletes(spark, path, 4, 5, "vec_id")
      assert(r2 == 0 && d2 == 0L)
      assert(VectorOps.readManifest(spark, path, 5) ==
        VectorOps.readManifest(spark, path, 4))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  test("indexFsck: clean version servable; garbage bytes flip intact; " +
      "a deleted file flips present; duplicate stats commit refused") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val idx = VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_fsck_spec")
    val path = dir.resolve("index").toString
    try {
      VectorOps.ivfWrite(idx, path)
      VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
      VectorOps.writeStats(spark, path, 1)
      intercept[Exception] { VectorOps.writeStats(spark, path, 1) }
      val (p0, i0, n0, rows0) = VectorOps.indexFsck(spark, path, 1)
      assert(p0 && i0, "a freshly committed version must be servable")
      assert(n0 >= 1 && rows0 == embs.count(), s"footer sum $rows0")
      // corruption control: garbage bytes in one data file → intact=false,
      // present=true, and the audit must report, never throw
      val victim = VectorOps.readManifest(spark, path, 1).head
      val vPath = java.nio.file.Paths.get(path, victim)
      val original = java.nio.file.Files.readAllBytes(vPath)
      java.nio.file.Files.write(vPath, "not a parquet file".getBytes)
      val (p1, i1, _, _) = VectorOps.indexFsck(spark, path, 1)
      assert(p1 && !i1, "garbage bytes must flip intact, not present")
      java.nio.file.Files.write(vPath, original) // restore
      val (_, iRestored, _, _) = VectorOps.indexFsck(spark, path, 1)
      assert(iRestored, "restoring the bytes must restore servability")
      // lost-file control: present=false
      java.nio.file.Files.delete(vPath)
      val (p2, i2, _, _) = VectorOps.indexFsck(spark, path, 1)
      assert(!p2 && !i2, "a missing manifest file must flip present")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  test("pqQuantError: shifted codes carry >= the optimal error on every " +
      "row, strictly more in total") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val model = VectorOps.pqTrain(embs, "vec_id", "embedding",
      m = 16, dim = 64, k = 16, iters = 2)
    val opt = VectorOps.pqQuantError(embs, "vec_id", "embedding", model)
      .withColumnRenamed("err_micro", "e0")
    val ctl = VectorOps.pqQuantError(embs, "vec_id", "embedding", model, 1)
      .withColumnRenamed("err_micro", "e1")
    val j = opt.join(ctl, "vid").cache()
    assert(j.filter(col("e1") < col("e0")).count() == 0,
      "argmin is optimal: no row's shifted error may undercut it")
    val sums = j.agg(sum(col("e0")), sum(col("e1"))).head()
    assert(sums.getLong(1) > sums.getLong(0),
      "shift-by-one must cost strictly more error in total")
    j.unpersist()
  }

  test("ivfCompact: only multi-file partitions rewritten, every partition " +
      "ends at one file, rows identical") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val idx = VectorOps.ivfIndexDeterministic(
      embs.filter(col("vec_id") % 5 =!= 2), "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact_spec")
    val path = dir.resolve("index").toString
    val out = dir.resolve("compacted").toString
    try {
      VectorOps.ivfWrite(idx, path)
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2),
        idx.centroids, path, "vec_id", "embedding")
      val (rewritten, before, after) = VectorOps.ivfCompact(spark, path, out)
      val parts = new java.io.File(path).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("centroid="))
      assert(rewritten >= 1, "append debt must force at least one rewrite")
      assert(after == parts.length, s"one file per partition after: $after")
      assert(before > after, s"compaction must shrink file count: $before -> $after")
      new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("centroid="))
        .foreach { d =>
          assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
            s"${d.getName} not a singleton")
        }
      val old = spark.read.parquet(path).select("vec_id", "centroid")
      val neu = spark.read.parquet(out).select("vec_id", "centroid")
      assert(old.exceptAll(neu).isEmpty && neu.exceptAll(old).isEmpty,
        "compaction must move bytes, never meaning")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }
}
