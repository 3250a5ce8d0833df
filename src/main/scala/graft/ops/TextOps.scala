package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis + approximate-dedup operators for LLM-scale data
  * pipelines (builder-prompt scope extension beyond the reference:
  * language-ID, quality scoring, token counting, fingerprinting, MinHash/
  * SimHash/n-gram-Jaccard near-dup).
  *
  * Everything is Catalyst expressions — built-in higher-order functions
  * or compiled custom kernels (`graft.expr`) — per-row linear work, no
  * UDFs, no shuffle until an explicit groupBy/join. The composed-builtins
  * forms each kernel is parity-tested against live test-side
  * (`graft.ops.ReferenceForms`). The LSH paths are the 100 TB story:
  * candidate generation is an equi-join on (band, band-hash), never an
  * O(n²) cross product.
  */
object TextOps {

  /** Let-binding for expression trees: evaluates `c` ONCE and exposes it
    * as a lambda variable to `f`. Without this, a Column referenced N
    * times in one projection is N copies of the expression tree, each
    * re-evaluated per row (an inlined `split` inside a nested transform
    * turns O(T) tokenization into O(T²)).
    */
  def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Unicode normalization to `form` (NFC/NFD/NFKC/NFKD) — the custom
    * codegen'd [[graft.expr.UnicodeNormalize]] expression (Spark has no
    * builtin; a UDF would break whole-stage codegen). Already-normalized
    * strings (the pure-ASCII common case) pass through allocation-free.
    */
  def normalizeUnicode(c: Column, form: String = "NFKC"): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.expr.UnicodeNormalize(GraftShim.expression(c), form))
  }

  /** The full unicode-hygiene fold a multilingual corpus gets at ingest
    * (q_unicode_normalize): NFKC-normalize (folds compatibility forms —
    * ligatures, fullwidth digits, NBSP — and composes combining marks,
    * so visually-identical strings become codepoint-identical for dedup
    * / shingling / tokenizer vocabularies), strip C0 controls + DEL,
    * casefold via `lower`. One map-side projection: zero shuffles, stays
    * in whole-stage codegen, embarrassingly parallel at 100 TB. The
    * strip set is deliberately C0+DEL only — the smallest class every
    * engine's regex treats identically (C1 handling differs across
    * regex dialects and would fork the oracle).
    */
  def unicodeClean(c: Column, form: String = "NFKC"): Column =
    lower(regexp_replace(normalizeUnicode(c, form), "[\\x00-\\x1F\\x7F]", ""))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: word pieces + digits + punctuation as
    * separate tokens (a cheap proxy for a real BPE vocab).
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Tiny per-language stopword profiles for the heuristic language ID.
    * Deliberately small — the operator shape (profile overlap argmax) is
    * what matters; swap in real profiles for production.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "no"))

  /** Language-ID: stopword-overlap argmax over the profiles; `und`
    * (undetermined) when nothing matches. Deterministic tie-break: the
    * struct-greatest comparison means the lexicographically LARGEST
    * language code wins among tied scores.
    */
  def langId(c: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.expr.LangId(GraftShim.expression(tokens(lower(c)))))
  }

  /** Integer-exact quality points (the oracle-safe scoring used by BOTH
    * q_quality_score and q_corpus_pipeline — one definition so the
    * per-stage query and the end-to-end pipeline can't drift): length
    * tiers + mean-word-length band (in cross-multiplied integer space) +
    * punctuation-ratio bonus + capped stopword hits.
    */
  def qualityPoints(t: Column): Column = {
    val nChars = length(t)
    val nTok = tokenCount(t)
    val punct = length(regexp_replace(t, "[^.,;:!?]", ""))
    val stopSet = typedLit(stopwords.values.flatten.toSeq.distinct)
    val stopHits = size(array_intersect(array_distinct(tokens(lower(t))), stopSet))
    when(nChars >= 400, 2).when(nChars >= 100, 1).otherwise(0) +
      when((nChars * 10).between(nTok * 30, nTok * 100), 2).otherwise(0) +
      when(punct * 10 <= nChars, 1).otherwise(0) +
      least(stopHits, lit(5))
  }

  /** DuckDB fragment computing the same 4-term sum from the caller's
    * column/expression snippets (shared by the same two oracles).
    */
  def qualityPointsSql(nChars: String, nTok: String, punct: String,
                       stopHits: String): String =
    s"""(CASE WHEN $nChars >= 400 THEN 2 WHEN $nChars >= 100 THEN 1 ELSE 0 END)
       |  + (CASE WHEN $nChars * 10 BETWEEN $nTok * 30 AND $nTok * 100 THEN 2 ELSE 0 END)
       |  + (CASE WHEN $punct * 10 <= $nChars THEN 1 ELSE 0 END)
       |  + least($stopHits, 5)""".stripMargin

  /** Content fingerprint (md5 — stable across engines, so oracle-able). */
  def fingerprint(c: Column): Column = md5(c.cast("binary"))

  /** Word n-gram shingles: `["a b c", "b c d", ...]` — one compiled pass
    * over the token array ([[graft.expr.WordGrams]]; the HOF form pays
    * an interpreted slice+concat per window). Documents shorter
    * than `n` yield the single whole-document gram, as before.
    */
  def shingles(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.expr.WordGrams(GraftShim.expression(tokens(c)), n))
  }

  /** Jaccard similarity of two element-DISTINCT (set) array<string>
    * columns — one compiled hash-set build per pair instead of
    * array_intersect's set + array_union's set + two materialized
    * throwaway arrays ([[graft.expr.JaccardSets]]; bit-identical on the
    * distinct-input domain, SetKernelsSpec). Every caller passes
    * `array_distinct` outputs.
    */
  def jaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.expr.JaccardSets(
      GraftShim.expression(a), GraftShim.expression(b)))
  }

  /** `size(array_intersect(a, b))` for two SORTED array<long> columns —
    * compiled two-pointer walk, no per-pair set build or materialized
    * intersection ([[graft.expr.SortedIntersectCount]]).
    */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.expr.SortedIntersectCount(
      GraftShim.expression(a), GraftShim.expression(b)))
  }

  /** MinHash signature: `k` permutations simulated by seeded xxhash64 of
    * each shingle; signature[i] = min hash under seed i. Map-side only.
    * The shingle array is let-bound — evaluated once, not once per seed.
    */
  def minHashSignature(shinglesCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(
      graft.expr.MinHashSig(GraftShim.expression(shinglesCol), k))
  }

  /** LSH band keys from a MinHash signature: `bands` groups of `rowsPerBand`
    * signature entries, each hashed to one bucket key. Documents sharing
    * any (band index, bucket) are near-dup candidates.
    */
  def lshBands(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    bind(sigCol) { sig =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(concat_ws(",", slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))))
            .as("bucket")))
    }

  /** SimHash-64 over tokens: per bit, sum +1/-1 weighted by whether the
    * token hash has that bit; sign of the sum sets the output bit.
    * Implemented as the custom single-pass `SimHash64` Catalyst
    * expression — the built-in formulation needs 64 separate folds.
    */
  def simHash(c: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    GraftShim.column(graft.expr.SimHash64(GraftShim.expression(tokens(c))))
  }

  /** Cross-engine-verifiable SimHash-64 ([[graft.expr.SimHashMd5]]):
    * per-token hash = first 64 bits of md5(token), so every bit of the
    * fingerprint is recomputable from any engine's md5() built-in.
    * Rendered as 16 lowercase hex chars — the string form sidesteps
    * 64-bit signedness differences between engines.
    */
  def simHashMd5Hex(c: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftShim
    lpad(lower(hex(GraftShim.column(
      graft.expr.SimHashMd5(GraftShim.expression(tokens(c)))))), 16, "0")
  }

  /** CCNet-style perplexity proxy: per-document mean token
    * log-probability under the corpus's own unigram distribution — the
    * classic cheap quality signal (rare-token-heavy / garbled docs score
    * low; docs of common well-formed text score high). No external model:
    * the unigram table IS the corpus's token counts, computed in the same
    * plan.
    *
    * Arithmetic is FIXED-POINT: each token contributes
    * round(ln(count/N)·1e6) as a BIGINT, so the per-doc sum is exact and
    * order-independent (a double sum would vary with partitioning), and
    * the mean is integer division — cross-engine reproducible.
    *
    * Scale shape: one explode, one hash join tokens⋈vocab (vocab is
    * heavy-tailed but count-bounded; broadcast when it fits), one
    * aggregation on the doc key.
    */
  def unigramLogProbScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tok_count"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(n)) // 1-row total frame
      .select(col(idCol),
        round(log(col("tok_count").cast("double") / col("n_total")) * 1e6, 0)
          .cast("long").as("lp_micro"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(lp_micro) div count(1)").as("avg_logprob_micro"))
  }

  /** One exact BPE merge iteration's statistics over a tokenized corpus
    * `(idCol, toksCol: array<string>)` — the inner loop of tokenizer
    * training: find the most frequent adjacent pair (count desc, pair
    * asc tie-break) and count the result of applying it greedily
    * left-to-right per document.
    *
    * The greedy non-overlap rule ("a a a" merges positions 0–1, NOT
    * 1–2) is computed distributively, not as a sequential fold:
    * candidate starts can only be adjacent when the pair is
    * self-adjacent (a == b), so candidates form runs, and within a run
    * exactly the odd-numbered candidates fire. That run-parity is pure
    * lead/lag/cumsum window arithmetic over the SAME (doc, pos)
    * ordering — one exchange on the doc key, embarrassingly parallel
    * across docs, identical in any engine with window functions.
    *
    * Returns one row: pair, pair_count, n_merges, tokens_before,
    * tokens_after (all exact integers; n_merges < pair_count whenever
    * chains overlap).
    */
  def bpeMergeStats(docs: DataFrame, idCol: String, toksCol: String)
      : DataFrame =
    bpeStatsOf(bpeMarked(docs, idCol, toksCol))

  /** The marked candidate frame shared by [[bpeMergeStats]] (aggregate
    * it) and [[bpeApplyMerge]] (rebuild token arrays from it): one row
    * per (doc, pos) with the round's winning pair broadcast alongside
    * and the greedy-non-overlap `active` / `prevActive` markers
    * computed by run-parity windows.
    */
  private def bpeMarked(docs: DataFrame, idCol: String, toksCol: String)
      : DataFrame =
    bpeMarkedWith(docs, idCol, toksCol, bpeTop1(docs, toksCol))

  /** Elect the round's winning pair (count desc, pair asc — a total
    * order): one map-side-combinable bigram count + a 1-row top-k. The
    * bigram build is the compiled [[graft.expr.WordGrams]] n=2 kernel
    * (byte-identical to the zip_with-of-slices HOF it replaced for
    * arrays of ≥ 2 elements; shorter arrays are guarded to the HOF
    * form's empty result — WordGrams' own short branch returns the
    * whole-doc gram instead).
    */
  private def bpeTop1(docs: DataFrame, toksCol: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    val bigrams = when(size(col(toksCol)) >= 2,
      GraftShim.column(graft.expr.WordGrams(
        GraftShim.expression(col(toksCol)), 2))).otherwise(array())
    docs.select(explode(bigrams).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("pc"))
      .orderBy(col("pc").desc, col("bg")).limit(1)
      .select(substring_index(col("bg"), " ", 1).as("a"),
        substring_index(col("bg"), " ", -1).as("b"), col("pc"))
  }

  /** [[bpeMarked]] against a CALLER-SUPPLIED pair frame (1 row: a, b,
    * pc) instead of the corpus's own elected winner — the encode path:
    * at inference the vocabulary is FIXED, the merge to apply each round
    * comes from training, and only the greedy application runs.
    */
  private def bpeMarkedWith(docs: DataFrame, idCol: String, toksCol: String,
                            top1: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val cand = docs
      .select(col(idCol), posexplode(col(toksCol)).as(Seq("pos", "tok")))
      .crossJoin(broadcast(top1))
      .withColumn("nxt", lead(col("tok"), 1).over(wOrd))
      // coalesce: at the doc-final position `nxt` is NULL, which would
      // make `c` (and everything derived from it) three-valued — the
      // kept-token branch must see FALSE there, in both engines
      .withColumn("c",
        coalesce(col("tok") === col("a") && col("nxt") === col("b"),
          lit(false)))
      .withColumn("runStart",
        col("c") && !coalesce(lag(col("c"), 1).over(wOrd), lit(false)))
      .withColumn("runId",
        sum(when(col("runStart"), 1L).otherwise(0L)).over(wOrd))
    val offset = sum(when(col("c"), 1L).otherwise(0L))
      .over(Window.partitionBy(col(idCol), col("runId"))
        .orderBy(col("pos")))
    cand
      .withColumn("active", col("c") && offset % 2 === 1)
      .withColumn("prevActive",
        coalesce(lag(col("active"), 1).over(wOrd), lit(false)))
      // only what bpeStatsOf and bpeApplied actually read: the c/run
      // scaffolding would otherwise be MATERIALIZED by the per-round
      // localCheckpoint — at corpus scale that is real bytes per token
      .select(col(idCol), col("pos"), col("tok"), col("nxt"),
        col("a"), col("b"), col("pc"), col("active"), col("prevActive"))
  }

  private def bpeStatsOf(marked: DataFrame): DataFrame =
    marked.agg(
      max(concat_ws(" ", col("a"), col("b"))).as("pair"),
      max(col("pc")).as("pair_count"),
      sum(when(col("active"), 1L).otherwise(0L)).as("n_merges"),
      count(lit(1)).as("tokens_before"),
      sum(when(!col("active") && !col("prevActive"), 1L)
        .otherwise(when(col("active"), 1L).otherwise(0L)))
        .as("tokens_after"))

  /** Apply the round's winning merge to every document: active positions
    * become the concatenated pair `a+b`, the position consumed by each
    * merge (`prevActive`) is dropped, everything else passes through;
    * token arrays are rebuilt in position order. One exchange on the doc
    * key (the windows and the rebuild groupBy share it).
    */
  private def bpeApplied(marked: DataFrame, idCol: String,
                         toksCol: String): DataFrame =
    marked
      .filter(col("active") || !col("prevActive"))
      .select(col(idCol), col("pos"),
        when(col("active"), concat(col("tok"), col("nxt")))
          .otherwise(col("tok")).as("t2"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("t2")))),
        x => x.getField("t2")).as(toksCol))

  /** Iterated BPE training over a fixed merge budget — the tokenizer-
    * training loop completed ([[bpeMergeStats]] is its single inner
    * step): each round counts adjacent pairs, elects the global winner
    * (count desc, pair asc — a total order, so training is
    * deterministic in any engine), applies it greedily per document,
    * and proceeds on the MERGED corpus. Returns one row per round —
    * (round, pair, pair_count, n_merges, tokens_before, tokens_after),
    * all exact integers plus the learned vocabulary entry itself — the
    * replayable training log an oracle can re-derive round by round
    * (q_bpe_train replays all K rounds in SQL).
    *
    * Scale shape per round: one pair-count aggregate (map-side combine —
    * bigrams from the compiled [[graft.expr.WordGrams]] n=2 kernel, so
    * the CORPUS never shuffles, only pair-count partials do), the 1-row
    * winner broadcast back, and the merge applied per document by the
    * compiled [[graft.expr.BpeMergeRound]] kernel in one narrow
    * projection — zero doc-key exchanges per round (the posexplode +
    * run-parity windows + collect_list rebuild this replaced paid two,
    * plus a per-TOKEN materialization; r14 measured 4.9 s → see
    * OPTIMIZATION_r14.md). The merged per-DOC frame is materialized
    * each non-final round (`Staging.materialize` — it feeds the round's
    * stats aggregate, the next election and the next merge, three
    * driver-sequential jobs); the final round's frame has one consumer
    * and stays lazy. Round equivalence to the window/run-parity form is
    * pinned in BpeKernelsSpec and TextVectorSpec (bpeTrain vs
    * bpeMergeStats round-by-round).
    */
  def bpeTrain(docs: DataFrame, idCol: String, toksCol: String,
               rounds: Int): DataFrame = {
    require(rounds >= 1, "bpeTrain: rounds must be >= 1")
    import org.apache.spark.sql.graftshim.GraftShim
    var cur = docs
    val stats = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (r <- 1 to rounds) {
      val merged = cur.crossJoin(broadcast(bpeTop1(cur, toksCol)))
        .select(col(idCol), size(col(toksCol)).as("len_before"),
          GraftShim.column(graft.expr.BpeMergeRound(
            GraftShim.expression(col(toksCol)),
            GraftShim.expression(col("a")),
            GraftShim.expression(col("b")))).as("m"),
          col("a"), col("b"), col("pc"))
        .select(col(idCol), col("m.toks").as(toksCol),
          col("m.n_merges").as("n_merges"), col("len_before"),
          col("a"), col("b"), col("pc"))
      val frame =
        if (r < rounds) merged.transform(Staging.materialize) else merged
      // aggregate parity with the window form's bpeStatsOf over the
      // per-token marked frame (incl. the empty-corpus corner: max/sum
      // over zero rows are null, count is 0 — hence the one coalesce)
      stats += frame.agg(
        max(concat_ws(" ", col("a"), col("b"))).as("pair"),
        max(col("pc")).as("pair_count"),
        sum(col("n_merges")).as("n_merges"),
        coalesce(sum(col("len_before")), lit(0L)).as("tokens_before"),
        sum(col("len_before") - col("n_merges")).as("tokens_after"))
        .withColumn("round", lit(r))
      if (r < rounds) cur = frame.select(col(idCol), col(toksCol))
    }
    stats.reduce(_ unionByName _)
      .select(col("round"), col("pair"), col("pair_count"),
        col("n_merges"), col("tokens_before"), col("tokens_after"))
      .orderBy(col("round"))
  }

  /** ENCODE with a trained vocabulary — the inference half of the
    * tokenizer split ([[bpeTrain]] is the training half): the merge list
    * is FIXED (learned elsewhere, on other data), and each round applies
    * one merge greedily to every document under exactly the training
    * pass's run-parity rule — BPE's defining property is that encoding
    * replays the merges in learned order, so train-then-encode on the
    * training corpus itself reproduces the training merge counts
    * verbatim (TextOpsSpec pins that identity). Returns the encode log,
    * one row per round: (round, pair, n_merges, tokens_before,
    * tokens_after) — all exact integers; a round whose pair never occurs
    * in the corpus logs zero merges and passes tokens through. Per round
    * the corpus crosses the wire once (the windowed mark + doc-key
    * rebuild); there is no pair-count aggregate at all — encoding is
    * strictly cheaper than training, as it should be.
    */
  def bpeEncodeLog(docs: DataFrame, idCol: String, toksCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeLog: merges must be non-empty")
    var cur = docs
    val stats = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (((a, b), i) <- merges.zipWithIndex) {
      val pair = docs.sparkSession.range(1)
        .select(lit(a).as("a"), lit(b).as("b"), lit(0L).as("pc"))
      val marked = bpeMarkedWith(cur, idCol, toksCol, pair).transform(Staging.materialize)
      stats += bpeStatsOf(marked).withColumn("round", lit(i + 1))
      if (i < merges.length - 1) cur = bpeApplied(marked, idCol, toksCol)
    }
    stats.reduce(_ unionByName _)
      .select(col("round"), col("pair"), col("n_merges"),
        col("tokens_before"), col("tokens_after"))
      .orderBy(col("round"))
  }

  /** SINGLE-PASS tokenizer inference — the scale-true sibling of
    * [[bpeEncodeLog]]: the trained merge list is BROADCAST (vocabulary
    * is metadata, like centroids) and every document is encoded in ONE
    * executor-local pass, applying the merges in learned rank order
    * within the document — byte-identical to the round-by-round global
    * replay because documents are independent and each round's greedy
    * left-to-right non-overlap rule is a per-document computation
    * (TextOpsSpec pins the token-for-token equality). The round-based
    * replay is one corpus pass PER MERGE — fine as an oracle at K = 4,
    * a scale-killer at a real tokenizer's ~32k merges, where this path
    * is K-times-nothing: the corpus crosses the wire once, period (the
    * production shape of serving-time tokenization — the reference
    * batch-encodes with a frozen vocabulary the same way,
    * `utils/upload_data_to_pinecone.py:42-46`).
    *
    * Returns one row per document: (idCol, toksCol encoded,
    * `bpe_merges_per_round` LONG×K, `bpe_len_after_round` LONG×(K+1)
    * with index 0 = the pre-encode length) — the per-round counters
    * that let [[bpeEncodeLogFast]] reproduce the full encode log from
    * this one pass.
    */
  def bpeEncodeDocs(docs: DataFrame, idCol: String, toksCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeDocs: merges must be non-empty")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      docs.schema(idCol),
      StructField(toksCol, ArrayType(StringType)),
      StructField("bpe_merges_per_round", ArrayType(LongType)),
      StructField("bpe_len_after_round", ArrayType(LongType))))
    val bc = docs.sparkSession.sparkContext.broadcast(merges.toArray)
    docs.select(col(idCol), col(toksCol).cast("array<string>"))
      .mapPartitions { rows =>
        val ms = bc.value
        rows.map { r =>
          var arr: Array[String] = r.getSeq[String](1).toArray
          val nMerges = new Array[Long](ms.length)
          val lenAfter = new Array[Long](ms.length + 1)
          lenAfter(0) = arr.length.toLong
          var mi = 0
          while (mi < ms.length) {
            val (a, b) = ms(mi)
            // greedy left-to-right: consuming (i, i+1) then advancing by
            // 2 is exactly the run-parity rule ("a a a" merges 0-1, not
            // 1-2) the distributed training pass computes with windows
            val out = new scala.collection.mutable.ArrayBuffer[String](
              arr.length)
            var i = 0
            while (i < arr.length) {
              if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) {
                out += a + b; i += 2; nMerges(mi) += 1
              } else { out += arr(i); i += 1 }
            }
            arr = out.toArray
            lenAfter(mi + 1) = arr.length.toLong
            mi += 1
          }
          org.apache.spark.sql.Row(r.get(0), arr.toSeq,
            nMerges.toSeq, lenAfter.toSeq)
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** [[bpeEncodeDocs]] projected to the encoded corpus. */
  def bpeEncode(docs: DataFrame, idCol: String, toksCol: String,
                merges: Seq[(String, String)]): DataFrame =
    bpeEncodeDocs(docs, idCol, toksCol, merges).select(col(idCol), col(toksCol))

  /** The [[bpeEncodeLog]] schema — (round, pair, n_merges,
    * tokens_before, tokens_after) — produced from ONE corpus pass: the
    * per-document round counters of [[bpeEncodeDocs]] summed per round.
    * Value-identical to the K-pass replay log (the replay stays as the
    * oracle; TextOpsSpec pins the equality), with the plan to prove the
    * pass count: one scan of the input, one explode, one aggregate.
    */
  def bpeEncodeLogFast(docs: DataFrame, idCol: String, toksCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    val pairs = typedLit(merges.map { case (a, b) => s"$a $b" })
    bpeEncodeDocs(docs, idCol, toksCol, merges)
      .select(col("bpe_len_after_round").as("la"),
        posexplode(col("bpe_merges_per_round")).as(Seq("r0", "nm")))
      .groupBy(col("r0"))
      .agg(sum(col("nm")).as("n_merges"),
        sum(element_at(col("la"), col("r0").cast("int") + 1))
          .as("tokens_before"),
        sum(element_at(col("la"), col("r0").cast("int") + 2))
          .as("tokens_after"))
      .select((col("r0") + 1).cast("int").as("round"),
        element_at(pairs, col("r0").cast("int") + 1).as("pair"),
        col("n_merges"), col("tokens_before"), col("tokens_after"))
      .orderBy(col("round"))
  }

  /** The ROUND-BY-ROUND encode replay's final corpus — the oracle for
    * [[bpeEncode]]'s single-pass result: K windowed global passes, one
    * per merge in learned order (the construction whose per-round log
    * [[bpeEncodeLog]] returns). Kept for the equality pin, not for
    * production encoding.
    */
  def bpeEncodeReplay(docs: DataFrame, idCol: String, toksCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeReplay: merges must be non-empty")
    var cur = docs
    for ((a, b) <- merges) {
      val pair = docs.sparkSession.range(1)
        .select(lit(a).as("a"), lit(b).as("b"), lit(0L).as("pc"))
      cur = bpeApplied(
        bpeMarkedWith(cur, idCol, toksCol, pair).transform(Staging.materialize),
        idCol, toksCol)
    }
    cur
  }

  /** End-to-end MinHash-LSH near-dup candidate pairs over a corpus,
    * verified by exact shingle-Jaccard >= `threshold`.
    *
    * Plan shape: shingle+sign map-side → explode bands → self-equi-join on
    * (band,bucket) → dedup candidate pairs → exact verify. At 100 TB the
    * only shuffles are the band join and the pair dedup, both keyed.
    */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.8): DataFrame =
    minHashNearDupsFromSigs(
      minHashSigFrame(df, idCol, textCol, shingleN, k), k, bands, threshold)

  /** Per-doc MinHash signature + distinct-shingle frame `(id, sig, sh)` —
    * the shared input of [[minHashNearDupsFromSigs]]. Splitting here lets
    * a multi-band caller (q_lsh_band_curve probes bands = 4/8/16 over ONE
    * corpus) materialize the tokenize+shingle+sign pass once instead of
    * re-running it per band count; single-band callers compose the two
    * functions and column pruning restores the original plan (the band
    * branch reads only `sig`, the verify joins only `sh`).
    */
  def minHashSigFrame(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, k: Int): DataFrame = {
    // spread the per-row shingle/hash work across all cores — small doc
    // tables often arrive as a single parquet split
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    spread.select(col(idCol).as("id"),
      minHashSignature(shingles(col(textCol), shingleN), k).as("sig"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
  }

  /** [[minHashNearDups]] from a precomputed `(id, sig, sh)` frame. */
  def minHashNearDupsFromSigs(sigs: DataFrame, k: Int, bands: Int,
                              threshold: Double): DataFrame =
    minHashNearDupsFromParts(sigs.select(col("id"), col("sig")),
      sigs.select(col("id"), col("sh")), k, bands, threshold)

  /** [[minHashNearDups]] from SEPARATE signature `(id, sig)` and
    * shingle-set `(id, sh)` frames. The split matters when only the
    * signature side is worth materializing (q_lsh_bucket_cap shares one
    * materialized signature frame between its capped and uncapped paths):
    * a combined materialized `(id, sig, sh)` frame drags the wide
    * shingle payload through every narrow consumer — a checkpoint stores
    * whole rows, so the band-key branch and the bucket-size aggregate
    * would deserialize the shingle arrays they never read (measured
    * +34% task CPU on the gate), while the shingle sets are cheap to
    * re-derive inline (compiled WordGrams kernel) with column pruning.
    */
  def minHashNearDupsFromParts(sigs: DataFrame, shing: DataFrame,
                               k: Int, bands: Int,
                               threshold: Double): DataFrame = {
    require(k % bands == 0,
      s"minHashNearDups: k=$k must be divisible by bands=$bands — the " +
        "trailing k % bands signature entries would be computed and " +
        "silently ignored, lowering candidate recall")
    val rows = k / bands
    // Phase 1 — candidate pairs: only (id, band, bucket) crosses the
    // shuffle; shingle arrays stay OUT of the band join (carrying them
    // multiplied shuffle bytes by bands× and dominated runtime).
    val bandKeys = sigs
      .select(col("id"), lshBands(col("sig"), bands, rows).as("bands"))
      .select(col("id"), explode(col("bands")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val candidates = bandKeys.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(bandKeys.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Phase 2 — exact verify: join the (few) candidate pairs back to the
    // distinct-shingle sets.
    candidates
      .join(shing.select(col("id").as("id_a"), col("sh").as("sa")), Seq("id_a"))
      .join(shing.select(col("id").as("id_b"), col("sh").as("sb")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[minHashNearDups]] with a BAND-BUCKET SIZE CAP — the skew guard
    * the banded join needs at 100 TB (r12 verdict item 4): one
    * degenerate bucket (empty/template text → identical signatures →
    * every band of every such doc collides) turns the (band, bucket)
    * self-join into an O(m²) stall on a single reducer. Here buckets
    * larger than `maxBucket` rows leave the pair join entirely and
    * their rows route through a LINEAR overflow path — never dropped:
    *
    *  - rows of an over-cap bucket group by their FULL signature; each
    *    identical-signature group emits STAR candidates around its min
    *    id (one row per member — the group IS the degenerate mass, and
    *    a clique over it is output-sized, not candidate-sized);
    *  - distinct-signature group EXEMPLARS within the same over-cap
    *    bucket still pair all-vs-all (bounded by the distinct-signature
    *    count, which is what the bucket's size SHOULD have been — the
    *    blowup generator is identical signatures, which the grouping
    *    linearizes);
    *  - every candidate — star or exemplar — passes the same exact
    *    Jaccard verify as the normal path.
    *
    * Contract: pair-level output within an identical-signature class is
    * the verified STAR, not the clique — DOWNSTREAM DEDUP DECISIONS
    * (connected components → keep-one-per-cluster) are unchanged, which
    * is the recall that matters, and is what q_lsh_bucket_cap gates.
    *
    * Precision of that contract (ADVICE r13): k identical MinHash
    * values do NOT imply identical shingle sets, so a sig-identical
    * class can contain docs whose exact Jaccard against the exemplar is
    * below threshold while some member-member pair is above it.
    * Connectivity therefore must not hinge on ONE exemplar passing
    * verify: members whose star edge FAILS the exact verify re-route
    * through [[starResolve]] — they elect a fresh exemplar among
    * themselves and re-star, for up to `starRounds` linear rounds, so a
    * verify-failing exemplar costs one round, not the class's recall.
    * What stays approximate, by design: (a) members still unresolved
    * after `starRounds` (every elected exemplar failed against them)
    * end unpaired even though a member-member edge might exist; (b)
    * re-elected exemplars do not re-enter the cross-exemplar pair set.
    * Both need a k-wide MinHash collision between sub-threshold shingle
    * sets *repeated per round* — vanishing at k=32, and byte-identical
    * template classes (the actual 100 TB failure mode) verify at
    * Jaccard 1 in round one, where the star IS exact.
    *
    * Returns (verifiedPairs, cappedBuckets(band, bucket, n)) — the
    * second frame is the loud overflow accounting.
    */
  def minHashNearDupsCapped(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                            threshold: Double = 0.8, maxBucket: Int = 1000,
                            starRounds: Int = 3)
      : (DataFrame, DataFrame) = {
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    // signatures materialized once: band keys, overflow grouping, and
    // nothing else recomputes the per-doc minhash. Shingle sets stay
    // DERIVED (cheap compiled kernel, column-pruned) — see
    // [[minHashNearDupsFromParts]] for why they must not ride the
    // narrow signature checkpoint.
    val sigs = spread.select(col(idCol).as("id"),
        minHashSignature(shingles(col(textCol), shingleN), k).as("sig"))
      .transform(Staging.materialize)
    val shing = spread.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    minHashNearDupsCappedFromParts(sigs, shing, k, bands, threshold,
      maxBucket, starRounds)
  }

  /** [[minHashNearDupsCapped]] from a precomputed — and, by the
    * caller's contract, MATERIALIZED — signature frame `(id, sig)` plus
    * a shingle-set frame `(id, sh)`. Splitting here lets the
    * q_lsh_bucket_cap gate share ONE materialized signature pass
    * between its capped and uncapped paths instead of each recomputing
    * the tokenize+shingle+sign chain.
    */
  def minHashNearDupsCappedFromParts(sigs: DataFrame, shing: DataFrame,
                                     k: Int, bands: Int,
                                     threshold: Double, maxBucket: Int,
                                     starRounds: Int = 3)
      : (DataFrame, DataFrame) = {
    require(k % bands == 0,
      s"minHashNearDupsCapped: k=$k must be divisible by bands=$bands")
    require(maxBucket >= 2,
      s"minHashNearDupsCapped: maxBucket=$maxBucket must be >= 2")
    require(starRounds >= 1,
      s"minHashNearDupsCapped: starRounds=$starRounds must be >= 1")
    val rows = k / bands
    // narrow (id, band, bucket) rows — signatures stay OUT of the band
    // join exactly as in the uncapped path; only overflow rows (rare by
    // definition) pull their signature back by id
    val bandKeys = sigs
      .select(col("id"), explode(lshBands(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val sizes = bandKeys.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).transform(Staging.materialize)
    val cappedBuckets = sizes.filter(col("n") > maxBucket)
    val keyed = bandKeys.join(sizes, Seq("band", "bucket"))
    val normal = keyed.filter(col("n") <= maxBucket)
      .select(col("band"), col("bucket"), col("id"))
    val over = keyed.filter(col("n") > maxBucket)
      .select(col("band"), col("bucket"), col("id"))
      .join(sigs, Seq("id"))
    val candNormal = normal.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(normal.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // the one exact verifier every candidate path shares — keeps any
    // extra carried columns (starResolve threads its group keys through)
    def verify(cand: DataFrame): DataFrame = cand
      .join(shing.select(col("id").as("id_a"), col("sh").as("sa")), Seq("id_a"))
      .join(shing.select(col("id").as("id_b"), col("sh").as("sb")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 4))
      .drop("sa", "sb")
    // linear star per identical-signature group, with verify-failure
    // re-election (see the Scaladoc contract); the round-1 exemplars
    // additionally pair all-vs-all across sig groups within each bucket
    val mins = over.groupBy(col("band"), col("bucket"), col("sig"))
      .agg(min(col("id")).as("id_a")).transform(Staging.materialize)
    val candCross = mins.select(col("band"), col("bucket"), col("id_a").as("ra"))
      .join(mins.select(col("band"), col("bucket"), col("id_a").as("rb")),
        Seq("band", "bucket"))
      .filter(col("ra") < col("rb"))
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
    val starVerified = starResolve(over, verify, threshold, starRounds)
    val baseVerified = verify(
        candNormal.unionByName(candCross).dropDuplicates("id_a", "id_b"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // a pair can surface via a normal bucket in one band AND a star in
    // another — the split verification makes the final pair-key dedup
    // load-bearing (values are identical: same exact Jaccard)
    val verified = baseVerified.unionByName(starVerified)
      .dropDuplicates("id_a", "id_b")
    (verified, cappedBuckets)
  }

  /** The verify-failure-tolerant star: resolve each identical-signature
    * group of `members` (`(band, bucket, sig, id)` rows) into VERIFIED
    * star pairs, re-electing a fresh exemplar among the failures each
    * round (ADVICE r13 — one sub-threshold exemplar must cost one
    * round, not the group's connectivity). Every round is LINEAR in the
    * remaining members (one keyed min + one keyed join + the exact
    * verify); each round retires at least its elected exemplar per live
    * group, and empty residuals short-circuit, so clean data pays one
    * round + one emptiness probe (later rounds count their failures in
    * the verify frame's materializing job). Members still unresolved after
    * `maxRounds` end unpaired (documented approximation). The `verify`
    * callback is injected so specs can drive election/re-routing with a
    * deterministic fake verifier — real MinHash collisions between
    * sub-threshold shingle sets cannot be constructed on demand at
    * k=32.
    */
  private[ops] def starResolve(members: DataFrame,
                               verify: DataFrame => DataFrame,
                               threshold: Double,
                               maxRounds: Int): DataFrame = {
    // zero-row frame with the output schema, id type inherited from the
    // caller's id column (no hardcoded LongType)
    var out = members.limit(0).select(col("id").as("id_a"),
      col("id").as("id_b"), lit(0.0).as("jaccard"))
    var residual = members.select(col("band"), col("bucket"), col("sig"),
      col("id"))
    var round = 0
    var drained = residual.isEmpty // overflow is rare: usually done here
    while (!drained && round < maxRounds) {
      val exemplars = residual.groupBy(col("band"), col("bucket"), col("sig"))
        .agg(min(col("id")).as("id_a"))
      val star = residual.join(exemplars, Seq("band", "bucket", "sig"))
        .filter(col("id") =!= col("id_a"))
        .select(col("id_a"), col("id").as("id_b"),
          col("band"), col("bucket"), col("sig"))
      // materialized once: the pass/fail split below reads it twice, and
      // the materializing job counts the failures the next round retries
      val (v, failed) = Staging.materializeObserving(verify(star),
        count_if(col("jaccard") < threshold))
      out = out.unionByName(
        v.filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
          .dropDuplicates("id_a", "id_b"))
      residual = v.filter(col("jaccard") < threshold)
        .select(col("band"), col("bucket"), col("sig"),
          col("id_b").as("id"))
      round += 1
      drained = failed.getLong(0) == 0L
    }
    out
  }

  /** Cross-corpus near-duplicate join: near-dups of `probe` documents
    * AGAINST `corpus` documents (never probe×probe or corpus×corpus) —
    * the asymmetric sibling of [[minHashNearDups]] a pipeline runs when
    * a new crawl batch lands against the existing corpus, or when an
    * eval set is screened against training data at similarity level
    * (fuzzy decontamination; exact-overlap decontamination is
    * q_decontaminate). Same banded-LSH candidate shape — band keys are
    * computed per side, candidates only materialize across sides on a
    * shared (band, bucket) equi-key — and the same exact
    * verify-per-candidate. At 100 TB the corpus side's band keys are
    * computed once and reused per batch; only (id, band, bucket) rows
    * ever shuffle. `maxBucket` is the cross-side sibling of
    * [[minHashNearDupsCapped]]'s skew guard: an over-cap CORPUS bucket
    * (degenerate template class — it would multiply EVERY probe batch)
    * collapses to one exemplar per full signature before the cross
    * join; see the in-body contract.
    */
  def minHashCrossNearDups(probe: DataFrame, corpus: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3, k: Int = 32, bands: Int = 16,
                           threshold: Double = 0.5,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0,
      s"minHashCrossNearDups: k=$k must be divisible by bands=$bands")
    val rows = k / bands
    val capped = maxBucket != Int.MaxValue
    // UNCAPPED (the default hot path — ADVICE r13): the original narrow
    // shape, band keys straight off the shingle/sign projection, no
    // signature materialization, no bucket-size aggregation, no sizes
    // join — the cap machinery must cost nothing when no cap is asked.
    // CAPPED: (id, band, bucket, sig) per side; sig rides only into the
    // overflow path (narrow rows feed the cross join either way).
    def spread(df: DataFrame) =
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    def sigs(df: DataFrame, as: String) = spread(df)
      .select(col(idCol).as(as),
        minHashSignature(shingles(col(textCol), shingleN), k).as("sig"))
    def bandKeysOf(sg: DataFrame, as: String) = sg
      .select(col(as), explode(lshBands(col("sig"), bands, rows)).as("bk"))
      .select(col(as), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val pKeys = bandKeysOf(sigs(probe, "id_new"), "id_new")
    val cSide =
      if (!capped) bandKeysOf(sigs(corpus, "id_old"), "id_old")
      else {
        // the cross-bucket blowup is |probe bucket| × |corpus bucket|:
        // cap the CORPUS side (the big, reused side — a degenerate
        // template class there multiplies EVERY probe batch), same
        // contract as [[minHashNearDupsCapped]]: over-cap corpus buckets
        // collapse to one exemplar per FULL SIGNATURE — probe rows still
        // pair with every distinct corpus signature class in the bucket,
        // so a probe matching a degenerate class is still FOUND (against
        // the class exemplar; see the capped-star Scaladoc for the
        // sig-identical-but-distinct caveat). Rows are never dropped.
        // Signatures materialize once: band keys + overflow both read them.
        val cSigs = Staging.materialize(sigs(corpus, "id_old"))
        val cKeys = bandKeysOf(cSigs, "id_old")
        val cSizes = cKeys.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n"))
        val cKeyed = cKeys.join(cSizes, Seq("band", "bucket"))
        val cNormal = cKeyed.filter(col("n") <= maxBucket)
          .select(col("band"), col("bucket"), col("id_old"))
        val cOverflow = cKeyed.filter(col("n") > maxBucket)
          .select(col("band"), col("bucket"), col("id_old"))
          .join(cSigs, Seq("id_old"))
          .groupBy(col("band"), col("bucket"), col("sig"))
          .agg(min(col("id_old")).as("id_old"))
          .select(col("band"), col("bucket"), col("id_old"))
        cNormal.unionByName(cOverflow)
      }
    val candidates = pKeys
      .join(cSide, Seq("band", "bucket"))
      .select(col("id_new"), col("id_old"))
      .dropDuplicates("id_new", "id_old")
    def shing(df: DataFrame, as: String, sas: String) = df
      .select(col(idCol).as(as),
        array_distinct(shingles(col(textCol), shingleN)).as(sas))
    candidates
      .join(shing(probe, "id_new", "sa"), Seq("id_new"))
      .join(shing(corpus, "id_old", "sb"), Seq("id_old"))
      .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("jaccard"))
  }

  /** Fuzzy-dup candidate pairs by edit distance over the DISTINCT key
    * domain — the classic small-domain pass of fuzzy dedup (brand/unit
    * style vocabularies). The cross join is O(n²) BY DESIGN, so the
    * domain cardinality is counted first and the call fails loudly past
    * `maxDomain` — the scale contract is explicit, not an accidental
    * quadratic blowup on an unexpectedly large domain. Large domains
    * belong to the banded path ([[minHashNearDups]]).
    */
  def editDistancePairs(df: DataFrame, keyCol: String, maxDist: Int = 1,
                        maxDomain: Long = 5000): DataFrame = {
    val b = df.select(col(keyCol)).distinct()
    val n = b.count() // eager tiny count — the guard IS the point
    require(n <= maxDomain,
      s"editDistancePairs: distinct '$keyCol' domain is $n (> $maxDomain) — " +
        s"the O(n²) cross join would generate ${n * n} candidate pairs; " +
        "use MinHash/n-gram blocking for large domains")
    b.as("x").crossJoin(b.as("y"))
      .filter(col(s"x.$keyCol") < col(s"y.$keyCol") &&
        levenshtein(col(s"x.$keyCol"), col(s"y.$keyCol")) <= maxDist)
      .select(col(s"x.$keyCol").as("b1"), col(s"y.$keyCol").as("b2"))
  }

  /** PHRASE search over a positional posting table — the query an
    * inverted index without positions cannot answer (Lucene's positional
    * postings design, public literature). `postings` carries
    * `(doc_id, tok, pos: array<long>)` — one row per (doc, term), the
    * term's 0-based occurrence positions sorted ascending.
    *
    * Algorithm: seed with the first term's position lists, then for each
    * later term i intersect the carried candidate list with that term's
    * positions SHIFTED back by i (`array_intersect` on
    * `transform(pos, p => p - i)`) — a surviving candidate position p
    * means the document carries term k at p + k for every k, i.e. the
    * whole phrase starting at p. Each step is one doc_id equi-join
    * against a term's postings (posting-list-sized, never corpus-sized)
    * and the candidate set only shrinks; `size(cand) > 0` prunes dead
    * documents after every step, so rare-term-first ordering of `terms`
    * is the classic cost lever (semantics are order-independent).
    * Returns `(doc_id, n_occ)` — matching documents with exact phrase
    * occurrence counts.
    */
  def phraseMatch(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phraseMatch: need at least one term")
    def term(i: Int) = postings.filter(col("tok") === terms(i))
    val seed = term(0).select(col("doc_id"), col("pos").as("cand"))
    terms.indices.drop(1).foldLeft(seed) { (acc, i) =>
      acc.join(term(i).select(col("doc_id"),
          transform(col("pos"), p => p - i).as(s"shift$i")),
        Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(col("cand"), col(s"shift$i")).as("cand"))
        .filter(size(col("cand")) > 0)
    }.select(col("doc_id"), size(col("cand")).cast("long").as("n_occ"))
  }

  /** PROXIMITY search over the same positional postings — "both terms
    * within w tokens, any order" (Lucene's sloppy/span query family,
    * public design). One doc_id equi-join of the two terms' postings,
    * then the minimum pairwise position distance entirely inside
    * Catalyst higher-order functions (`transform` × `transform` →
    * `flatten` → `array_min` — no UDF, no explode): per-document cost
    * is |pos₁|·|pos₂| over document-sized lists, the same arithmetic a
    * positional engine does per hit. Returns `(doc_id, min_dist)` for
    * documents where the terms co-occur within `window`.
    */
  def proximityMatch(postings: DataFrame, t1: String, t2: String,
                     window: Long): DataFrame = {
    val a = postings.filter(col("tok") === t1)
      .select(col("doc_id"), col("pos").as("p1"))
    val b = postings.filter(col("tok") === t2)
      .select(col("doc_id"), col("pos").as("p2"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"),
        array_min(flatten(transform(col("p1"),
          x => transform(col("p2"), y => abs(x - y))))).as("min_dist"))
      .filter(col("min_dist") <= window)
  }
}
