package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Layout

/** Round-6 registry extension, twelfth batch — physical-design probes,
  * completing the layout/pruning family (q_zorder, q_zone_audit,
  * q_compaction_plan, q_join_cardinality):
  *
  *  - a REAL bit-packed Bloom runtime filter with an exact
  *    false-positive audit (the build-side pushdown a 100 TB star join
  *    runs before shuffling the fact table),
  *  - Hilbert-curve layout indexing (the strictly-better-locality
  *    sibling of q_zorder's Morton interleave).
  *
  * Same conventions as [[Registry]]: exact integer outputs,
  * engine-portable md5-nibble hashing (the q_dsir_weights trick — no
  * engine-specific hash crosses the oracle), identical aliases,
  * deterministic total ORDER BY.
  */
object Physical {

  type Q = Registry.Q

  private val hex = "0123456789abcdef"

  // -------------------------------------------- Bloom-filter join audit
  /** Bloom runtime-filter audit for the customer(segment)⋉orders star
    * probe: build side = BUILDING-segment custkeys, k = 2 hash
    * functions over m = 2¹² bits (md5 nibbles 1-3 / 4-6 — the
    * engine-portable hash; m intentionally SMALL so the audit shows a
    * nonzero false-positive rate to reason about), bitmap packed into
    * ≤64 bit_or'd longs.
    * The probe tests BOTH bits against the broadcast word frame; the
    * exact semi-join then counts true members, so the output row is
    * the exact audit {n_probe, n_pass, n_member, n_fp} a planner reads
    * before deciding the filter pays at 100 TB (n_fp/n_pass is the
    * wasted-shuffle fraction; no-false-NEGATIVES is a theorem the spec
    * asserts). The bitmap build is one map-side explode + a ≤64-group
    * bit_or — the exact shape Spark's own runtime row-group filtering
    * materializes, but observable and oracle-checked: the oracle
    * replays membership as position-set semi-joins, which is
    * value-identical to the bitmap test by construction.
    */
  private def nib(h: Column, i: Int): Column =
    instr(lit(hex), substring(h, i, 1)) - 1
  private def pos12(h: Column, off: Int): Column =
    (nib(h, off) * 256 + nib(h, off + 1) * 16 + nib(h, off + 2))
      .cast("long")

  private val bloomJoinQ: Q = (s, dir) => {
    val build = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("string").as("k")).distinct()
    val bh = build.select(md5(col("k")).as("h"))
    val words = bh
      .select(explode(array(pos12(col("h"), 1), pos12(col("h"), 4)))
        .as("pos"))
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(1L, CAST(pmod(pos, 64) AS INT))").as("bit"))
      .groupBy(col("word")).agg(expr("bit_or(bit)").as("bits"))
    val probe = Tables.orders(s, dir)
      .select(col("o_custkey").cast("string").as("k"))
      .withColumn("h", md5(col("k")))
      .select(col("k"), pos12(col("h"), 1).as("pos1"),
        pos12(col("h"), 4).as("pos2"))
    val tested = probe
      .join(broadcast(words.select(expr("word").as("w1"),
        col("bits").as("b1"))), expr("pos1 div 64") === col("w1"), "left")
      .join(broadcast(words.select(expr("word").as("w2"),
        col("bits").as("b2"))), expr("pos2 div 64") === col("w2"), "left")
      // bitwiseAND, not div: bit 63 makes the word negative and integer
      // division would mis-extract the bit
      .select(col("k"),
        (expr("b1 & shiftleft(1L, CAST(pmod(pos1, 64) AS INT))") =!= 0
          && expr("b2 & shiftleft(1L, CAST(pmod(pos2, 64) AS INT))") =!= 0)
          .as("pass"))
      .na.fill(false, Seq("pass"))
    val withMember = tested
      .join(build.select(col("k"), lit(true).as("member")), Seq("k"), "left")
      .na.fill(false, Seq("member"))
    withMember.agg(
      count(lit(1)).as("n_probe"),
      sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
      sum(when(col("member"), 1L).otherwise(0L)).as("n_member"),
      sum(when(col("pass") && !col("member"), 1L).otherwise(0L))
        .as("n_fp"))
  }
  private def pos12Sql(h: String, off: Int): String =
    (0 until 3).map { i =>
      s"(strpos('$hex', substring($h, ${off + i}, 1)) - 1) * ${1 << (4 * (2 - i))}"
    }.mkString("(", " + ", ")")
  private val bloomJoinSql =
    s"""WITH build AS (
      |  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
      |  FROM customer WHERE c_mktsegment = 'BUILDING'),
      |bpos AS (
      |  SELECT ${pos12Sql("md5(k)", 1)} AS pos FROM build
      |  UNION
      |  SELECT ${pos12Sql("md5(k)", 4)} AS pos FROM build),
      |probe AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS k,
      |    ${pos12Sql("md5(CAST(o_custkey AS VARCHAR))", 1)} AS pos1,
      |    ${pos12Sql("md5(CAST(o_custkey AS VARCHAR))", 4)} AS pos2
      |  FROM orders),
      |tested AS (
      |  SELECT k,
      |    pos1 IN (SELECT pos FROM bpos)
      |      AND pos2 IN (SELECT pos FROM bpos) AS pass,
      |    k IN (SELECT k FROM build) AS member
      |  FROM probe)
      |SELECT CAST(count(*) AS BIGINT) AS n_probe,
      |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
      |  CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_fp
      |FROM tested""".stripMargin

  // ---------------------------------------------- Hilbert layout index
  /** Hilbert-curve layout index over (price, quantity) — the
    * q_zorder probe re-run on the curve with strictly better locality
    * (consecutive indices are always grid-adjacent; Morton jumps
    * aren't), which is why lakehouse clustering migrated from Z-order
    * to Hilbert. Quantization reuses [[Layout.quantize]]; the xy2d
    * walk materializes one PROJECTION per level (expression tree
    * linear in bits — a folded expression would double per level);
    * the oracle replays the identical walk as generated CTEs from the
    * same loop ([[Layout.hilbertSqlCtes]] — no drift possible).
    */
  private val hilbertQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val Array(r) = li.agg(
      min(col("l_extendedprice")).cast("double"),
      max(col("l_extendedprice")).cast("double"),
      min(col("l_quantity")).cast("double"),
      max(col("l_quantity")).cast("double")).collect()
    val q = li.select(col("l_orderkey"), col("l_linenumber"),
      Layout.quantize(col("l_extendedprice"), r.getDouble(0),
        r.getDouble(1), 8).as("qx"),
      Layout.quantize(col("l_quantity"), r.getDouble(2),
        r.getDouble(3), 8).as("qy"))
    Layout.withHilbert(q, "qx", "qy", 8, "h")
      .select(col("l_orderkey"), col("l_linenumber"), col("h"))
      .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }
  private val hilbertSql = {
    s"""WITH r AS (
       |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS pmn,
       |         CAST(max(l_extendedprice) AS DOUBLE) AS pmx,
       |         CAST(min(l_quantity) AS DOUBLE) AS qmn,
       |         CAST(max(l_quantity) AS DOUBLE) AS qmx
       |  FROM lineitem),
       |h_in AS (
       |  SELECT l_orderkey, l_linenumber,
       |    ${Layout.quantizeSql("l_extendedprice", "pmn", "pmx", 8)} AS hx,
       |    ${Layout.quantizeSql("l_quantity", "qmn", "qmx", 8)} AS hy,
       |    CAST(0 AS BIGINT) AS hd
       |  FROM lineitem, r)${Layout.hilbertSqlCtes("h_in",
            Seq("l_orderkey", "l_linenumber"), 8)}
       |SELECT l_orderkey, l_linenumber, hd AS h
       |FROM h7 ORDER BY h, l_orderkey, l_linenumber LIMIT 100""".stripMargin
  }

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_bloom_join", bloomJoinQ, Some(bloomJoinSql)),
    ("q_hilbert_layout", hilbertQ, Some(hilbertSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
