package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextOps

/** Training-corpus preparation operators beyond the reference surface —
  * the large-scale LLM-data-pipeline family (decontamination, splits,
  * mixing, packing, repetition filtering, streaming ingest dedup), each
  * with a DuckDB oracle. Same conventions as [[Registry]]: aliased
  * columns, total-order sorts, decimal sums, BIGINT-cast counts.
  */
object Corpus {

  type Q = Registry.Q

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination: flag training docs sharing any word
    * 4-gram with the held-out/benchmark set (here: every 20th doc). The
    * eval n-gram set is orders of magnitude smaller than the corpus, so
    * Spark's size-based selection broadcasts it — the training side
    * never shuffles its text, only the exploded (doc_id, gram) pairs
    * stream map-side through the hash join.
    * The standard n-gram-overlap decontamination pass (WebText/C4-style),
    * sized to the fixture's ~54-token docs.
    */
  private val decontaminateQ: Q = (s, dir) => {
    val sh = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(col("text"), 4)).as("grams"))
    val ev = sh.filter(col("doc_id") % 20 === 0)
      .select(explode(col("grams")).as("g")).distinct()
    val tr = sh.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("g"))
    tr.join(ev, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits")) // grams are distinct per doc
      .orderBy(col("doc_id"))
  }
  private val decontaminateSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+3], ' ')
      |               for i in range(1, len(toks) - 2)]
      |    END) AS grams FROM tok),
      |ev AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % 20 <> 0)
      |SELECT tr.doc_id, count(*) AS n_hits
      |FROM tr JOIN ev USING (g)
      |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- deterministic split

  /** Train/val/test split by md5 prefix — deterministic, engine-portable
    * (pure function of the id: any engine assigns every row the same
    * split, no RNG state, re-runs and backfills land identically).
    * Lexicographic hex compare: 'cc'/256 ≈ 0.80, 'e6'/256 ≈ 0.90.
    * Map-side only — no shuffle beyond the final tiny aggregate.
    */
  private def splitCol(id: Column): Column = {
    val b = substring(md5(id.cast("string")), 1, 2)
    when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
  }
  private val splitHashQ: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(splitCol(col("doc_id")).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy(col("split"))
  }
  private val splitHashSql =
    """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |            ELSE 'test' END AS split,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  // ----------------------------------------------------- domain mixing

  /** Weighted domain mixing: downsample each source to a target fraction
    * with the same md5-prefix trick (even-numbered sources keep 25%
    * ('40'/256), odd keep 75% ('c0'/256)). Deterministic mixing is what
    * makes corpus recipes reproducible; selection is map-side, the only
    * shuffle is the per-source rollup.
    */
  private val domainMixQ: Q = (s, dir) => {
    val tag = substring(md5(concat_ws(":", col("source"), col("doc_id"))), 1, 2)
    // try_cast: a digit-less source name must fall to the default
    // threshold, not throw under ANSI mode (and the oracle mirrors with
    // TRY_CAST so both engines agree on such names)
    val thr = when(
      regexp_extract(col("source"), "(\\d+)", 1).try_cast("int") % 2 === 0,
      "40").otherwise("c0")
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total"),
        count(when(tag < thr, 1)).as("kept"))
      .orderBy(col("source"))
  }
  private val domainMixSql =
    """SELECT source, count(*) AS total,
      |       count(CASE WHEN substr(md5(concat_ws(':', source, doc_id)), 1, 2)
      |                    < (CASE WHEN TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 2 = 0
      |                            THEN '40' ELSE 'c0' END)
      |                  THEN 1 END) AS kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- repetition quality

  /** Repetition-ratio quality gate: share of duplicated word bigrams per
    * doc (1 − distinct/total) — the classic boilerplate/degenerate-text
    * detector. Top-20 most repetitive, deterministic tie-break. Pure
    * map-side scoring + TakeOrdered.
    */
  private val repetitionRatioQ: Q = (s, dir) => {
    val bg = TextOps.shingles(col("text"), 2)
    Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        round(lit(1.0) - size(array_distinct(bg)).cast("double") /
          size(bg).cast("double"), 4).as("rep_ratio"))
      .orderBy(col("rep_ratio").desc, col("doc_id"))
      .limit(20)
  }
  private val repetitionRatioSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+1], ' ')
      |               for i in range(1, len(toks))]
      |    END AS grams FROM tok)
      |SELECT doc_id,
      |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
      |        / len(grams), 4) AS rep_ratio
      |FROM bg ORDER BY rep_ratio DESC, doc_id LIMIT 20""".stripMargin

  // ----------------------------------------------------- sequence packing

  /** Sequence packing: assign docs to fixed token-budget bins (256
    * tokens) by running prefix-sum within each source — the batch
    * formulation of greedy context-window packing for LLM training. The
    * window is PARTITIONED by source (parallel, no global sort); output
    * is per-bin occupancy. Scale note: parallelism is bounded by source
    * cardinality — for few huge sources, pack per (source, shard) with a
    * hash shard key instead (packing is shard-local in practice; bins
    * just get a composite id).
    */
  private val packSequencesQ: Q = (s, dir) => {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Registry.spread(Tables.documents(s, dir))
      .select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tok"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tok")).over(w), lit(0L)) / lit(256.0)))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
      .orderBy(col("source"), col("bin"))
  }
  private val packSequencesSql =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_tok,
      |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM t)
      |SELECT source, CAST(FLOOR(cum / 256.0) AS BIGINT) AS bin,
      |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin

  // ----------------------------------------------------- streaming dedup

  /** Streaming ingest dedup: the staged input contains every event TWICE
    * (two files, one per micro-batch), `dropDuplicatesWithinWatermark`
    * keeps the first arrival of each event_id with state bounded by the
    * watermark — the exactly-once-ingest shape of a streaming corpus
    * loader. The deduped stream drains append-mode; the rollup happens
    * batch-side on the drained table, so the oracle is a plain GROUP BY
    * over the UNIQUE events.
    */
  private def stagedDupDir(s: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    graft.ops.Staging.cached(s"dup:$dir") { tmp =>
      // canonicalize ONCE through Tables.events (which owns the fixture's
      // physical-type normalization), then duplicate the single part file
      // — two identical input files = the re-delivery the dedup absorbs
      val scratch = java.nio.file.Files.createTempDirectory("graft_dup_build")
      try {
        graft.Tables.events(s, dir).coalesce(1)
          .write.mode("overwrite").parquet(scratch.toString)
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(scratch)
        val part = try listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written under $scratch"))
        finally listing.close()
        Seq("events_a.parquet", "events_b.parquet").foreach { f =>
          java.nio.file.Files.copy(part, tmp.resolve(f)): Unit
        }
      } finally graft.ops.Staging.deleteRecursively(scratch)
      tmp.toString
    }
  private val streamDedupQ: Q = (s, dir) => {
    graft.streaming.EventStream.runStreamDedup(s, stagedDupDir(s, dir))
      .orderBy(col("event_type"))
  }
  private val streamDedupSql =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- incremental merge

  /** Incremental refresh (SCD1 upsert): a delta batch overrides matching
    * keys in the base snapshot — `union` + priority `max_by`, ONE hash
    * shuffle on the key, no join (the merge-into shape without a table
    * format). Delta rows re-price every 5th order; rollup by key bucket
    * keeps the oracle compact.
    */
  private val upsertQ: Q = (s, dir) => {
    import graft.ops.Dedup
    val orders = Tables.orders(s, dir)
    val base = orders.select(col("o_orderkey"), col("o_totalprice"),
      lit(0).as("__prio"))
    // re-price in DECIMAL: round(double * 1.1, 2) is engine-divergent on
    // half-cases (binary doubles round differently than decimal math)
    val dec = org.apache.spark.sql.types.DecimalType
    val delta = orders.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(dec(18, 2)) * lit("1.1").cast(dec(3, 1)))
          .cast(dec(18, 2)).cast("double").as("o_totalprice"),
        lit(1).as("__prio"))
    val merged = Dedup.latestPerKeyAgg(base.unionByName(delta),
      Seq("o_orderkey"), Seq(col("__prio")))
    merged
      .groupBy((col("o_orderkey") % 10).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_price"))
      .orderBy(col("bucket"))
  }
  private val upsertSql =
    """WITH delta AS (
      |  SELECT o_orderkey,
      |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)), 2)
      |         AS DOUBLE) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_totalprice FROM delta
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey))
      |SELECT o_orderkey % 10 AS bucket, count(*) AS cnt,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------------- int8 quantization

  /** Symmetric int8 quantization of embeddings (q = round(127·v/scale),
    * scale = max |v|) — the memory-4×-reduction step before ANN serving.
    * Map-side only; output is scalar probe columns (first components +
    * L1 mass) so the oracle compares exactly. Zero vectors quantize to
    * zeros (guarded division).
    */
  private val quantizeQ: Q = (s, dir) => {
    val emb = col("embedding")
    val sc = array_max(transform(emb, x => abs(x))).cast("double")
    def qAt(i: Int): Column =
      when(col("scale") === 0, lit(0))
        .otherwise(round(emb(i).cast("double") * 127.0 / col("scale"))
          .cast("int")).as(s"q$i")
    Tables.embeddings(s, dir)
      .withColumn("scale", sc)
      .select(col("vec_id") +: round(col("scale"), 6).as("scale_r") +:
        (0 to 3).map(qAt) :+
        when(col("scale") === 0, lit(0L)).otherwise(
          aggregate(emb, lit(0L), (acc, x) =>
            acc + abs(round(x.cast("double") * 127.0 / col("scale")))
              .cast("long"))).as("l1q"): _*)
      .withColumnRenamed("scale_r", "scale")
      .orderBy(col("vec_id"))
  }
  private val quantizeSql =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS sc
      |  FROM embeddings)
      |SELECT vec_id, round(sc, 6) AS scale,
      |  CASE WHEN sc = 0 THEN 0 ELSE CAST(round(CAST(embedding[1] AS DOUBLE) * 127.0 / sc) AS INTEGER) END AS q0,
      |  CASE WHEN sc = 0 THEN 0 ELSE CAST(round(CAST(embedding[2] AS DOUBLE) * 127.0 / sc) AS INTEGER) END AS q1,
      |  CASE WHEN sc = 0 THEN 0 ELSE CAST(round(CAST(embedding[3] AS DOUBLE) * 127.0 / sc) AS INTEGER) END AS q2,
      |  CASE WHEN sc = 0 THEN 0 ELSE CAST(round(CAST(embedding[4] AS DOUBLE) * 127.0 / sc) AS INTEGER) END AS q3,
      |  CASE WHEN sc = 0 THEN 0 ELSE CAST(list_sum(list_transform(embedding,
      |    x -> abs(round(CAST(x AS DOUBLE) * 127.0 / sc)))) AS BIGINT) END AS l1q
      |FROM s ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------- forward fill

  /** Forward-fill imputation (pandas `ffill` per key, ordered by time):
    * `last_value(..., ignoreNulls)` over a partitioned running window —
    * the standard gap-repair step before feature extraction. Nulls are
    * synthesized on every 7th event so the fill is actually exercised;
    * partitioned window → parallel, no global sort.
    */
  private val forwardFillQ: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("v",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      // raw pass-through value — no arithmetic, so no rounding needed for
      // cross-engine equality
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("v_filled"))
      .orderBy(col("event_id"))
  }
  private val forwardFillSql =
    """WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT event_id, user_id,
      |  last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM e ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------- chunking

  /** Document chunking for embedding/RAG: overlapping token windows
    * (size 64, stride 32) per doc — one generator expression and a
    * posexplode, all map-side; the chunk count formula and slicing are
    * mirrored exactly in the oracle. Output keeps the chunk fingerprint
    * rather than the text so the compare stays compact.
    */
  private val chunkQ: Q = (s, dir) => {
    val (sz, st) = (64, 32)
    Registry.spread(Tables.documents(s, dir))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("nc",
        when(size(col("toks")) <= sz, lit(1))
          .otherwise(ceil((size(col("toks")) - sz) / lit(st.toDouble)).cast("int") + 1))
      .select(col("doc_id"), col("toks"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => concat_ws(" ", slice(col("toks"), i * st + 1, lit(sz)))))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(sz), size(col("toks")) - col("chunk_id") * st).as("n_tok"),
        md5(col("chunk")).as("fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }
  private val chunkSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) <= 64 THEN 1
      |         ELSE CAST(ceil((len(toks) - 64) / 32.0) AS INTEGER) + 1 END AS nc
      |  FROM tok),
      |c AS (
      |  SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM n)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |  CAST(least(64, len(toks) - chunk_id * 32) AS INTEGER) AS n_tok,
      |  md5(array_to_string(toks[chunk_id * 32 + 1 : chunk_id * 32 + 64], ' ')) AS fp
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ----------------------------------------------------------- z-order

  /** Z-order (Morton) clustering key over two measures — the multi-dim
    * layout key [[graft.ops.Layout.zorderWrite]] partitions and sorts by
    * so parquet row-group stats prune on EITHER column. The query
    * oracles the bit math itself (quantize + interleave) — the part that
    * must be exactly right for the layout to mean anything.
    */
  private val zorderQ: Q = (s, dir) => {
    import graft.ops.Layout
    val li = Tables.lineitem(s, dir)
    val Array(r) = li.agg(
      min(col("l_extendedprice")).cast("double"), max(col("l_extendedprice")).cast("double"),
      min(col("l_quantity")).cast("double"), max(col("l_quantity")).cast("double")).collect()
    val z = Layout.zValue(
      Layout.quantize(col("l_extendedprice"), r.getDouble(0), r.getDouble(1), 8),
      Layout.quantize(col("l_quantity"), r.getDouble(2), r.getDouble(3), 8), 8)
    li.select(col("l_orderkey"), col("l_linenumber"), z.as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }
  private val zorderSql = {
    import graft.ops.Layout
    s"""WITH r AS (
       |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS pmn,
       |         CAST(max(l_extendedprice) AS DOUBLE) AS pmx,
       |         CAST(min(l_quantity) AS DOUBLE) AS qmn,
       |         CAST(max(l_quantity) AS DOUBLE) AS qmx
       |  FROM lineitem),
       |q AS (
       |  SELECT l_orderkey, l_linenumber,
       |    ${Layout.quantizeSql("l_extendedprice", "pmn", "pmx", 8)} AS qx,
       |    ${Layout.quantizeSql("l_quantity", "qmn", "qmx", 8)} AS qy
       |  FROM lineitem, r)
       |SELECT l_orderkey, l_linenumber, ${Layout.zValueSql("qx", "qy", 8)} AS z
       |FROM q ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin
  }

  // --------------------------------------------------- data-quality audit

  /** Column-profile report (the pre-ingest data-quality gate): null
    * count, exact distinct count, range, and a domain-violation count
    * per audited column — ONE aggregate pass computes all 18 measures,
    * then a driver-free `stack` unpivots the 1-row result into one row
    * per column (three separate agg jobs would scan the table thrice).
    */
  private val dqReportQ: Q = (s, dir) => {
    val cols = Seq(
      ("l_quantity", col("l_quantity") < 1 || col("l_quantity") > 50),
      ("l_discount", col("l_discount") < 0 || col("l_discount") > 0.1),
      ("l_linenumber", col("l_linenumber") < 1))
    val aggs = cols.flatMap { case (c, violation) => Seq(
      count(lit(1)).as(s"${c}_rows"),
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_null"),
      count_distinct(col(c)).as(s"${c}_dist"),
      min(col(c)).cast("double").as(s"${c}_min"),
      max(col(c)).cast("double").as(s"${c}_max"),
      sum(when(violation, 1).otherwise(0)).as(s"${c}_viol"))
    }
    val stackArgs = cols.map { case (c, _) =>
      s"'$c', ${c}_rows, ${c}_null, ${c}_dist, ${c}_min, ${c}_max, ${c}_viol"
    }.mkString(", ")
    Tables.lineitem(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column, n_rows, n_null, n_distinct, min_v, max_v, n_violation)"))
      .orderBy(col("column"))
  }
  private val dqReportSql = {
    def p(c: String, violation: String) =
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
         |  CAST(sum(CASE WHEN $violation THEN 1 ELSE 0 END) AS BIGINT) AS n_violation
         |FROM lineitem""".stripMargin
    p("l_quantity", "l_quantity < 1 OR l_quantity > 50") +
      "\nUNION ALL\n" +
      p("l_discount", "l_discount < 0 OR l_discount > 0.1") +
      "\nUNION ALL\n" +
      p("l_linenumber", "l_linenumber < 1") +
      "\nORDER BY \"column\""
  }

  // ------------------------------------------------------- raw sources

  /** Raw text-line source (log-ingestion shape): lineitem staged as
    * pipe-delimited lines, re-parsed with split + element_at + casts —
    * schema applied in the query, not the reader. Oracle reads the
    * original parquet.
    */
  private def stageText(s: SparkSession, dir: String): String =
    graft.ops.Staging.cached(s"text:$dir") { tmp =>
      // concat_ws SKIPS nulls (shifting later fields left), so each field
      // is coalesced to "" — the positional layout survives null inputs
      // (these four lineitem columns are non-null, but the staged format
      // must not depend on that)
      val fields = Seq("l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity").map(c => coalesce(col(c).cast("string"), lit("")))
      Tables.lineitem(s, dir)
        .select(concat_ws("|", fields: _*).as("value"))
        .coalesce(4).write.mode("overwrite").text(tmp.toString)
      tmp.toString
    }
  private val textSourceQ: Q = (s, dir) => {
    val parts = split(col("value"), "\\|")
    s.read.text(stageText(s, dir))
      .select(
        element_at(parts, 1).try_cast("long").as("l_orderkey"),
        element_at(parts, 3).as("l_returnflag"),
        element_at(parts, 4).try_cast("double").as("l_quantity"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count_distinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }
  private val textSourceSql =
    """SELECT l_returnflag, count(*) AS cnt,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Binary-file source — the multimodal ingestion path made concrete:
    * documents staged as one .bin per doc (UTF-8 text bytes stand in for
    * media blobs; the fixture is ASCII so byte length == n_chars), read
    * back with Spark's binaryFile source, fingerprinted from the raw
    * bytes. The oracle recomputes length/md5 from the documents TABLE —
    * proving the bytes round-tripped exactly.
    */
  private def stageBinary(s: SparkSession, dir: String): String =
    graft.ops.Staging.cached(s"bin:$dir") { tmp =>
      val rows = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text")).collect()
      // this collect stages a FIXTURE, not data flow: the doc_id < 200
      // predicate bounds it by construction. Keep the bound loud — if the
      // predicate is ever widened, fail here instead of OOMing the driver.
      require(rows.length <= 200,
        s"stageBinary fixture must stay driver-sized: ${rows.length} rows")
      rows.foreach { r =>
          java.nio.file.Files.write(
            tmp.resolve(f"doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      tmp.toString
    }
  private val binarySourceQ: Q = (s, dir) => {
    s.read.format("binaryFile").load(stageBinary(s, dir))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("fp"))
      .orderBy(col("doc_id"))
  }
  private val binarySourceSql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS fp
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- PII redaction

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** PII scrub (training-corpus privacy pass): count and redact email /
    * phone patterns. The fixture corpus carries no PII, so the query
    * first INJECTS synthetic addresses/numbers on deterministic doc_id
    * rules — both engines inject identically, so detection and redaction
    * are fully oracle-checkable. All map-side (scan → project), no
    * shuffle until the presentation sort; regexes are RE2∩Java-safe
    * (char classes + bounded repetition only, no lookaround).
    */
  private val piiRedactQ: Q = (s, dir) => {
    val id = col("doc_id").cast("string")
    val injected = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"), id,
          lit("@mail.example.com or user"), id, lit("@backup.example.org")))
      .when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" call 415-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))
    Registry.spread(Tables.documents(s, dir))
      .withColumn("txt", injected)
      .select(col("doc_id"),
        regexp_count(col("txt"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("txt"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("red"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("red")).cast("long").as("n_chars_red"),
        md5(col("red")).as("fp"))
      .orderBy(col("doc_id"))
  }
  private val piiRedactSql =
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
       |           CAST(doc_id AS VARCHAR) || '@mail.example.com or user' ||
       |           CAST(doc_id AS VARCHAR) || '@backup.example.org'
       |         WHEN doc_id % 11 = 0 THEN text || ' call 415-555-' ||
       |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE text END AS txt
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(txt, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(txt, '$phoneRe')) AS BIGINT) AS n_phones,
       |  CAST(length(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g')) AS BIGINT) AS n_chars_red,
       |  md5(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g')) AS fp
       |FROM inj ORDER BY doc_id""".stripMargin

  // -------------------------------------- cross-document shingle dedup

  /** Paragraph-dedup semantics at shingle granularity: an 8-gram that
    * already appeared in an earlier document (min doc_id wins) is a
    * duplicate span. The per-gram min is a `groupBy(g).agg(min)` — it
    * map-side combines, so a stop-word-like ubiquitous gram arrives at
    * the reducer as one partial per upstream partition, never as the
    * full posting list (the window-min form would sort the hot gram's
    * whole group in one task). The postings join back on the gram key —
    * the same single hash shuffle, skew-safe. This is the scan-shaped
    * core of suffix-array / exact-substring dedup passes at corpus
    * scale.
    */
  private val shingleDedupQ: Q = (s, dir) => {
    val sh = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(col("text"), 8))).as("g"))
    val firstDocs = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstDocs, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_dup"))
      .orderBy(col("doc_id"))
  }
  private val shingleDedupSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+7], ' ')
      |               for i in range(1, len(toks) - 6)]
      |    END)) AS g FROM tok),
      |f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS first_doc
      |      FROM sh)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- Gopher repetition rules

  /** Per-doc repetition stats from a gram array, computed in ONE sorted
    * map-side fold (no explode, no shuffle): sort the grams, walk runs —
    * `best`/`bestg` track the most frequent gram (first max in sorted
    * order = lexicographically smallest, the deterministic tie-break the
    * oracle replays with `ORDER BY cnt DESC, g ASC`), `dup` accumulates
    * `cnt × chars(gram)` over grams occurring ≥ 2 times (the final run
    * is closed in the finish lambda). Returns
    * `struct(best int, bestg string, dup long)`.
    */
  private[queries] def gramRunStats(grams: Column): Column = {
    val init = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best"), lit("").as("bestg"), lit(0L).as("dup"))
    def closedDup(st: Column): Column =
      when(st.getField("run") >= 2,
        st.getField("dup") + st.getField("run").cast("long") *
          length(st.getField("prev")))
        .otherwise(st.getField("dup"))
    aggregate(array_sort(grams), init,
      (st, g) => {
        val same = st.getField("prev") === g
        val run = when(same, st.getField("run") + 1).otherwise(lit(1))
        val dup = when(same, st.getField("dup")).otherwise(closedDup(st))
        val better = run > st.getField("best")
        struct(g.as("prev"), run.as("run"),
          when(better, run).otherwise(st.getField("best")).as("best"),
          when(better, g).otherwise(st.getField("bestg")).as("bestg"),
          dup.as("dup"))
      },
      st => struct(st.getField("best").as("best"),
        st.getField("bestg").as("bestg"), closedDup(st).as("dup")))
  }

  /** Gopher-style repetition rule battery (Rae et al., "Scaling Language
    * Models: ... Gopher", 2021, §A1.1 — public literature): per doc, the
    * fraction of characters covered by the single most frequent word
    * 2-gram (`top2_frac`) and by ALL word 5-grams occurring at least
    * twice (`dup5_frac`), plus the combined accept flag at the
    * Gopher-shaped thresholds (0.20 / 0.15). Completes the quality-gate
    * family's fourth axis: hand rules (q_quality_score), LM perplexity
    * (q_quality_logprob), learned classifier (q_quality_classifier), and
    * THIS — intra-document repetition, the signal that catches
    * boilerplate and degenerate generations that score fine on the other
    * three.
    *
    * 100 TB shape: ZERO data shuffle — both statistics come from
    * [[gramRunStats]]' sorted per-doc fold, so the whole battery is one
    * map pass over the corpus (contrast the explode→groupBy(doc, gram)
    * formulation, which shuffles every gram occurrence twice); output
    * order is the only exchange. The oracle replays both fractions via
    * the explode+GROUP BY formulation — two independent algorithms, one
    * hash.
    */
  private val gopherRulesQ: Q = (s, dir) => {
    Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), length(col("text")).as("len_chars"),
        gramRunStats(TextOps.shingles(col("text"), 2)).as("t2"),
        gramRunStats(TextOps.shingles(col("text"), 5)).as("t5"))
      .select(col("doc_id"),
        round((col("t2.best").cast("double") * length(col("t2.bestg"))) /
          col("len_chars"), 4).as("top2_frac"),
        round(col("t5.dup").cast("double") / col("len_chars"), 4)
          .as("dup5_frac"))
      .withColumn("gopher_pass",
        col("top2_frac") <= 0.2 && col("dup5_frac") <= 0.15)
      .orderBy(col("doc_id"))
  }
  private val gopherRulesSql =
    """WITH tok AS (
      |  SELECT doc_id, length(text) AS len_chars,
      |         string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |g2 AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+1], ' ')
      |               for i in range(1, len(toks))]
      |    END) AS g FROM tok),
      |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
      |r2 AS (SELECT doc_id, cnt, g, row_number() OVER (
      |         PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn FROM c2),
      |t2 AS (SELECT doc_id, cnt * length(g) AS topchars FROM r2 WHERE rn = 1),
      |g5 AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+4], ' ')
      |               for i in range(1, len(toks) - 3)]
      |    END) AS g FROM tok),
      |c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g),
      |t5 AS (SELECT doc_id,
      |         COALESCE(sum(CASE WHEN cnt >= 2 THEN cnt * length(g) END), 0)
      |           AS dupchars
      |       FROM c5 GROUP BY doc_id),
      |f AS (
      |  SELECT tok.doc_id,
      |    round(CAST(t2.topchars AS DOUBLE) / tok.len_chars, 4) AS top2_frac,
      |    round(CAST(t5.dupchars AS DOUBLE) / tok.len_chars, 4) AS dup5_frac
      |  FROM tok JOIN t2 USING (doc_id) JOIN t5 USING (doc_id))
      |SELECT doc_id, top2_frac, dup5_frac,
      |       (top2_frac <= 0.2 AND dup5_frac <= 0.15) AS gopher_pass
      |FROM f ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- unicode normalization
  /** Unicode normalization + control strip + casefold — the hygiene fold
    * a multilingual corpus needs at ingest (visually-identical strings
    * with different codepoint sequences defeat exact dedup, shingle
    * hashing, and tokenizer vocabularies). The fixture text is ASCII, so
    * the query GARNISHES each doc deterministically by `doc_id % 3` with
    * the codepoint classes that exercise each law:
    *
    *  - combining sequence `e` + U+0301 — NFC/NFKC must COMPOSE to é;
    *  - compatibility forms U+FB01 (ﬁ) and U+2460 (①) — NFKC must fold
    *    to `fi` / `1`;
    *  - BEL control + NBSP U+00A0 — the strip must remove the control,
    *    NFKC must fold NBSP to a plain space.
    *
    * The Spark side runs [[TextOps.unicodeClean]] (custom codegen'd
    * normalizer, one map-side projection, zero shuffles). The oracle
    * replays the SAME bytes independently: DuckDB's `nfc_normalize`
    * covers canonical composition, and because the garnished input is
    * ASCII + exactly these known compatibility codepoints, NFKC ≡
    * compat-replace then NFC — the replace list is exhaustive for the
    * input by construction, so the oracle is exact, not approximate.
    * Every row's normalized tail, char counts, and shrink boolean cross
    * the hash gate — a composition, folding, stripping, or casefold
    * divergence between java.text.Normalizer and utf8proc would flip
    * bytes here.
    */
  private val unicodeNormalizeQ: Q = (s, dir) => {
    // \u escapes, never literal glyphs: the combining sequence must
    // reach the engine DECOMPOSED (an editor or transcoder normalizing
    // the source file would silently gut the test)
    val garnish = when(pmod(col("doc_id"), lit(3)) === 0,
        lit("Cafe\u0301 STOP"))             // e + combining acute U+0301
      .when(pmod(col("doc_id"), lit(3)) === 1,
        lit("\uFB01le \u2460 STOP"))        // fi-ligature + circled one
      .otherwise(lit("bel\u0007l\u00A0gap STOP")) // BEL control + NBSP
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(col("text"), lit(" "), garnish).as("raw"))
      .select(col("doc_id"),
        TextOps.unicodeClean(col("raw")).as("norm"),
        length(col("raw")).as("n_chars_raw"))
      .select(col("doc_id"),
        expr("right(norm, 14)").as("norm_tail"),
        length(col("norm")).as("n_chars_norm"), col("n_chars_raw"),
        (length(col("norm")) < col("n_chars_raw")).as("shrunk"))
      .orderBy(col("doc_id"))
  }
  private val unicodeNormalizeSql =
    """WITH raw AS (
      |  SELECT doc_id, text || ' ' ||
      |    CASE doc_id % 3
      |      WHEN 0 THEN 'Cafe' || chr(769) || ' STOP'
      |      WHEN 1 THEN chr(64257) || 'le ' || chr(9312) || ' STOP'
      |      ELSE 'bel' || chr(7) || 'l' || chr(160) || 'gap STOP'
      |    END AS raw
      |  FROM documents),
      |norm AS (
      |  SELECT doc_id, length(raw) AS n_chars_raw,
      |    lower(regexp_replace(
      |      nfc_normalize(
      |        replace(replace(replace(raw,
      |          chr(64257), 'fi'), chr(9312), '1'), chr(160), ' ')),
      |      '[\x00-\x1f\x7f]', '', 'g')) AS norm
      |  FROM raw)
      |SELECT doc_id,
      |  right(norm, 14) AS norm_tail,
      |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
      |  CAST(n_chars_raw AS BIGINT) AS n_chars_raw,
      |  length(norm) < n_chars_raw AS shrunk
      |FROM norm ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_unicode_normalize", unicodeNormalizeQ, Some(unicodeNormalizeSql)),
    ("q_decontaminate", decontaminateQ, Some(decontaminateSql)),
    ("q_split_hash", splitHashQ, Some(splitHashSql)),
    ("q_domain_mix", domainMixQ, Some(domainMixSql)),
    ("q_repetition_ratio", repetitionRatioQ, Some(repetitionRatioSql)),
    ("q_pack_sequences", packSequencesQ, Some(packSequencesSql)),
    ("q_stream_dedup", streamDedupQ, Some(streamDedupSql)),
    ("q_upsert", upsertQ, Some(upsertSql)),
    ("q_quantize_embeddings", quantizeQ, Some(quantizeSql)),
    ("q_zorder", zorderQ, Some(zorderSql)),
    ("q_forward_fill", forwardFillQ, Some(forwardFillSql)),
    ("q_chunk_documents", chunkQ, Some(chunkSql)),
    ("q_dq_report", dqReportQ, Some(dqReportSql)),
    ("q_text_source", textSourceQ, Some(textSourceSql)),
    ("q_binary_source", binarySourceQ, Some(binarySourceSql)),
    ("q_pii_redact", piiRedactQ, Some(piiRedactSql)),
    ("q_shingle_dedup", shingleDedupQ, Some(shingleDedupSql)),
    ("q_gopher_rules", gopherRulesQ, Some(gopherRulesSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
