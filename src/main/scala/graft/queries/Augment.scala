package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.TextOps

/** Round-6 registry extension, fourteenth batch — training-data
  * augmentation and cohort-level evaluation:
  *
  *  - T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4): the
  *    masked-span pretraining objective as a deterministic, exactly
  *    replayable transform — corrupted input + sentinel targets,
  *  - per-cohort ROC AUC (the q_auc midrank machinery per source —
  *    the drift question "WHERE does the scorer fail" that a single
  *    global AUC hides),
  *  - source-vocabulary similarity matrix (pairwise Jaccard of hashed
  *    vocabulary bitmasks — the corpus-mixing diagnostic).
  *
  * Same conventions as [[Registry]]: md5-nibble hashing (engine-
  * portable), exact integer outputs, identical aliases, deterministic
  * total ORDER BY.
  */
object Augment {

  type Q = Registry.Q

  // ------------------------------------------------- T5 span corruption
  /** T5 span corruption: mask ~19% of tokens in length-3 spans chosen
    * by a position-keyed md5 coin (span starts where nibble 1 of
    * md5(doc_id|pos) = '0', p = 1/16), emit the corrupted input (spans
    * collapsed to numbered `<extra_id_k>` sentinels) and the target
    * (sentinels + the masked tokens). Everything is MAP-SIDE pure
    * except the per-doc sentinel numbering (a per-doc cumulative sum —
    * keyed window, one exchange): whether token i is masked depends
    * only on the md5 coins at i, i−1, i−2, so no neighbor shuffle
    * exists, and both engines replay the exact strings. The 1-in-7
    * doc sample keeps the compare frame bounded; the transform itself
    * is corpus-shaped (one projection + one keyed window + one
    * per-doc aggregation).
    */
  private val spanCorruptQ: Q = (s, dir) => {
    def isStart(p: Column): Column =
      when(p >= 1, substring(md5(concat(col("doc_id").cast("string"),
        lit("|"), p.cast("string"))), 1, 1) === "0").otherwise(false)
    val toks = Registry.spread(Tables.documents(s, dir))
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val flagged = toks
      .withColumn("m0", isStart(col("pos")) || isStart(col("pos") - 1) ||
        isStart(col("pos") - 2))
      .withColumn("mPrev", isStart(col("pos") - 1) ||
        isStart(col("pos") - 2) || isStart(col("pos") - 3))
      .withColumn("runStart", col("m0") && !(col("pos") > 1 && col("mPrev")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pieces = flagged
      .withColumn("k", sum(when(col("runStart"), 1L).otherwise(0L)).over(w))
      .select(col("doc_id"), col("pos"),
        when(!col("m0"), col("tok"))
          .when(col("runStart"),
            concat(lit("<extra_id_"), (col("k") - 1).cast("string"), lit(">")))
          .otherwise(lit(null).cast("string")).as("cpiece"),
        when(col("runStart"),
          concat(lit("<extra_id_"), (col("k") - 1).cast("string"),
            lit("> "), col("tok")))
          .when(col("m0"), col("tok"))
          .otherwise(lit(null).cast("string")).as("tpiece"),
        when(col("runStart"), 1L).otherwise(0L).as("isRun"))
    pieces.groupBy(col("doc_id"))
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, cpiece)))," +
            " x -> x.cpiece)"), " ").as("corrupted_text"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tpiece)))," +
            " x -> x.tpiece)"), " ").as("target_text"),
        sum(col("isRun")).as("n_spans"))
      .orderBy(col("doc_id"))
  }
  private val spanCorruptSql = {
    def isStart(p: String): String =
      s"(($p) >= 1 AND substring(md5(CAST(doc_id AS VARCHAR) || '|' || " +
        s"CAST($p AS VARCHAR)), 1, 1) = '0')"
    s"""WITH t0 AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      |        FROM documents WHERE doc_id % 7 = 0)),
      |f AS (
      |  SELECT doc_id, pos, tok,
      |    (${isStart("pos")} OR ${isStart("pos - 1")} OR
      |     ${isStart("pos - 2")}) AS m0,
      |    (${isStart("pos - 1")} OR ${isStart("pos - 2")} OR
      |     ${isStart("pos - 3")}) AS mprev
      |  FROM t0),
      |r AS (
      |  SELECT doc_id, pos, tok, m0,
      |    m0 AND NOT (pos > 1 AND mprev) AS runstart
      |  FROM f),
      |k AS (
      |  SELECT doc_id, pos, tok, m0, runstart,
      |    sum(CASE WHEN runstart THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
      |  FROM r),
      |p AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN NOT m0 THEN tok
      |         WHEN runstart THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>'
      |         ELSE NULL END AS cpiece,
      |    CASE WHEN runstart THEN '<extra_id_' || CAST(k - 1 AS VARCHAR)
      |           || '> ' || tok
      |         WHEN m0 THEN tok ELSE NULL END AS tpiece,
      |    CASE WHEN runstart THEN 1 ELSE 0 END AS isrun
      |  FROM k)
      |SELECT doc_id,
      |  coalesce(string_agg(cpiece, ' ' ORDER BY pos), '')
      |    AS corrupted_text,
      |  coalesce(string_agg(tpiece, ' ' ORDER BY pos), '') AS target_text,
      |  CAST(sum(isrun) AS BIGINT) AS n_spans
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ per-cohort AUC
  /** ROC AUC per source cohort — the q_auc tie-aware midrank formula
    * with every window PARTITIONED BY the cohort (ranks within a
    * source never cross partitions, so this scales to any number of
    * cohorts with one keyed exchange — the rare case where a plain
    * window IS the distributed answer). Exact integer ppm; cohorts
    * with a degenerate class (no positives or no negatives) are
    * reported with auc_ppm NULL rather than dropped.
    */
  private val groupedAucQ: Q = (s, dir) => {
    val sc = Evaluation.scoredForSpec(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_micro"), col("doc_id"))
    val blocks = sc
      .withColumn("r1", row_number().over(w).cast("long"))
      .groupBy(col("source"), col("score_micro"))
      .agg((min(col("r1")) + max(col("r1"))).as("mid2"),
        sum(when(col("label"), 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("n"))
    blocks.groupBy(col("source"))
      .agg(sum(col("pos") * col("mid2")).as("possum2"),
        sum(col("pos")).as("np"), sum(col("n") - col("pos")).as("nn"))
      .select(col("source"), col("np").as("n_pos"), col("nn").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          expr("(possum2 - np * (np + 1)) * 1000000 div (2 * np * nn)"))
          .as("auc_ppm"))
      .orderBy(col("source"))
  }
  private val groupedAucSql =
    s"""WITH ${Evaluation.scoredSql},
      |sd AS (
      |  SELECT s.doc_id, s.label, s.score_micro, d.source
      |  FROM scored s JOIN documents d USING (doc_id)),
      |r AS (
      |  SELECT source, label, score_micro,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY score_micro, doc_id) AS BIGINT) AS r1
      |  FROM sd),
      |b AS (
      |  SELECT source, score_micro, min(r1) + max(r1) AS mid2,
      |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM r GROUP BY source, score_micro),
      |m AS (
      |  SELECT source, CAST(sum(pos * mid2) AS BIGINT) AS possum2,
      |    CAST(sum(pos) AS BIGINT) AS np,
      |    CAST(sum(n - pos) AS BIGINT) AS nn
      |  FROM b GROUP BY source)
      |SELECT source, np AS n_pos, nn AS n_neg,
      |  CASE WHEN np > 0 AND nn > 0
      |    THEN (possum2 - np * (np + 1)) * 1000000 // (2 * np * nn)
      |  END AS auc_ppm
      |FROM m ORDER BY source""".stripMargin

  // ------------------------------------- source-vocabulary similarity
  /** Pairwise vocabulary similarity between sources: each source's
    * token vocabulary hashes into a 64-bit presence mask (md5 nibble
    * pair mod 64 — the engine-portable bucket), and every source pair
    * reports the exact Jaccard of the masks in ppm via bit_count.
    * The corpus pass is one (source, bucket) distinct; the 20-row mask
    * frame self-joins broadcast, so the |sources|² comparison is
    * metadata-sized — the corpus-mixing diagnostic ("which sources
    * speak the same language") at any scale.
    */
  private val sourceSimQ: Q = (s, dir) => {
    val hex = "0123456789abcdef"
    def bucketOf(h: Column): Column =
      (((instr(lit(hex), substring(h, 1, 1)) - 1) * 16 +
        instr(lit(hex), substring(h, 2, 1)) - 1) % 64).cast("int")
    val masks = Registry.spread(Tables.documents(s, dir))
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("source"), bucketOf(md5(col("tok"))).as("b"))
      .distinct()
      .groupBy(col("source"))
      .agg(expr("bit_or(shiftleft(1L, b))").as("mask"))
    masks.as("a").join(broadcast(masks.as("b")),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        expr("bit_count(a.mask & b.mask)").cast("long").as("n_common"),
        expr("""bit_count(a.mask & b.mask) * 1000000L
          | div bit_count(a.mask | b.mask)""".stripMargin).as("jaccard_ppm"))
      .orderBy(col("sa"), col("sb"))
  }
  private val sourceSimSql =
    """WITH tb AS (
      |  SELECT DISTINCT source,
      |    ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
      |     + strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) % 64
      |      AS b
      |  FROM (SELECT source,
      |          unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents)),
      |m AS (
      |  SELECT source,
      |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(b AS INTEGER)) AS BIGINT)
      |      AS mask
      |  FROM tb GROUP BY source)
      |SELECT a.source AS sa, b.source AS sb,
      |  CAST(bit_count(a.mask & b.mask) AS BIGINT) AS n_common,
      |  CAST(bit_count(a.mask & b.mask) AS BIGINT) * 1000000
      |    // CAST(bit_count(a.mask | b.mask) AS BIGINT) AS jaccard_ppm
      |FROM m a JOIN m b ON a.source < b.source
      |ORDER BY sa, sb""".stripMargin

  // --------------------------------------------------- RAG prompt context
  /** The reference assistant's full retrieval-to-prompt data path
    * (`usda-food-assistant/app.py:55-97`: embed query → top-k cosine →
    * format matches into the LLM context block) as ONE deterministic
    * query: top-5 cosine retrieval joined to document metadata,
    * rendered into the numbered context prompt. Scores cross the
    * string boundary as exact basis-point INTEGERS (double→string
    * formatting is engine-specific; integers aren't). The rank window
    * runs on the 5-row retrieved frame — the corpus-sized work is the
    * same brute-force scan as q_cosine_topk (TakeOrdered, no global
    * sort), and at 100 TB the retrieval step swaps to the q_ann_ivf
    * index probe with the prompt assembly unchanged.
    */
  private val promptContextQ: Q = (s, dir) => {
    val topk = graft.ops.VectorOps.cosineTopK(
      Tables.corpus(s, dir),
      "vec_id", "embedding", Registry.queryVec(s, dir), 5)
    val w = Window.orderBy(col("score").desc, col("vec_id"))
    val lines = topk
      .join(Tables.documents(s, dir), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("score"), col("lang"), col("source"),
        col("text"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"),
        concat(lit("["), col("rank").cast("string"), lit("] ("),
          round(col("score") * 10000).cast("long").cast("string"),
          lit(" bp, "), col("lang"), lit("/"), col("source"), lit(") "),
          substring(col("text"), 1, 80)).as("line"))
    lines.agg(
        concat(lit("Context:\n"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(rank, line)))," +
              " x -> x.line)"), "\n"),
          lit("\nAnswer using only the context above.")).as("prompt"),
        count(lit(1)).as("n_matches"))
  }
  private val promptContextSql = {
    val cos = Registry.cosineSql("embedding", "qe")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |topk AS (
      |  SELECT vec_id, round($cos, 4) AS score
      |  FROM embeddings, q WHERE vec_id <> 0
      |  ORDER BY score DESC, vec_id LIMIT 5),
      |l AS (
      |  SELECT row_number() OVER (ORDER BY score DESC, vec_id) AS rank,
      |    '[' || CAST(row_number() OVER (ORDER BY score DESC, vec_id)
      |      AS VARCHAR) || '] (' ||
      |    CAST(CAST(round(score * 10000) AS BIGINT) AS VARCHAR) ||
      |    ' bp, ' || lang || '/' || source || ') ' ||
      |    substring(text, 1, 80) AS line
      |  FROM topk JOIN documents ON vec_id = doc_id)
      |SELECT 'Context:\n' || string_agg(line, '\n' ORDER BY rank) ||
      |    '\nAnswer using only the context above.' AS prompt,
      |  CAST(count(*) AS BIGINT) AS n_matches
      |FROM l""".stripMargin
  }

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_span_corruption", spanCorruptQ, Some(spanCorruptSql)),
    ("q_grouped_auc", groupedAucQ, Some(groupedAucSql)),
    ("q_source_similarity", sourceSimQ, Some(sourceSimSql)),
    ("q_prompt_context", promptContextQ, Some(promptContextSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
