package graft.expr

import graft.SparkSpec
import graft.ops.{ReferenceForms, VectorOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Bit-parity of the compiled nearest-code / PQ / L2 kernels against the
  * higher-order-function formulations they replaced. Run on REAL fixture
  * embeddings so float→double cast order, accumulation order and argmin
  * tie-breaks are exercised on the data the registry queries see — a
  * kernel that drifts by one ulp or one tie would re-partition the staged
  * IVF fixtures and fail half the ANN family.
  */
class PqKernelsSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def nearestCodeCol(v: Column, cb: Array[Array[Double]]): Column =
    GraftShim.column(NearestCode(GraftShim.expression(v),
      cb.map(_.toSeq).toSeq))

  private def pqCodesCol(v: Column, cbs: Array[Array[Array[Double]]]): Column =
    GraftShim.column(PqCodes(GraftShim.expression(v),
      cbs.map(_.map(_.toSeq).toSeq).toSeq))

  /** Deterministic pseudo-random centroids spanning the fixture range. */
  private def synthCentroids(k: Int, dim: Int, salt: Int): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, j) =>
      math.sin(salt * 31 + c * 131 + j * 7) * 0.3)

  test("nearest_code: bit-parity with the HOF argmin on real embeddings, " +
      "first-index tie-break, null on length mismatch") {
    val cents = synthCentroids(8, 64, 1)
    val rows = emb.select(col("vec_id"),
        VectorOps.ivfAssign(col("embedding"), cents).as("kern"),
        ReferenceForms.ivfAssignHof(col("embedding"), cents).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
    // duplicate centroids: both forms must keep the FIRST index
    val dup = Array(cents(3), cents(3), cents(1))
    val tied = emb.limit(50).select(
        VectorOps.ivfAssign(col("embedding"), dup).as("kern"),
        ReferenceForms.ivfAssignHof(col("embedding"), dup).as("hof"))
      .collect()
    tied.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.getInt(0) != 1, "tie must resolve to the first duplicate")
    }
    // length mismatch → null, like the zip_with null-poisoned fold
    val short = emb.limit(5)
      .select(nearestCodeCol(slice(col("embedding"), 1, 10), cents).as("c"))
      .collect()
    short.foreach(r => assert(r.isNullAt(0)))
  }

  test("pq_codes: per-subspace parity with the HOF argmin, and pqEncode " +
      "matches a from-scratch HOF re-derivation") {
    val m = 16; val dsub = 4
    val cbs = Array.tabulate(m)(mi => synthCentroids(16, dsub, mi + 2))
    val model = VectorOps.PqModel(cbs)
    // HOF reference: argmin per sliced subvector, assembled in order
    val hofCodes = array((0 until m).map { mi =>
      val sv = transform(slice(col("embedding"), mi * dsub + 1, dsub),
        x => x.cast("double"))
      val dists = transform(sequence(lit(0), lit(15)), c =>
        aggregate(
          zip_with(sv, element_at(typedLit(cbs(mi).map(_.toSeq).toSeq), c + 1),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val rows = emb.select(
        pqCodesCol(col("embedding"), cbs).as("kern"), hofCodes.as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), r.toString))
    // pqEncode is now a pure projection of the kernel
    val enc = VectorOps.pqEncode(emb, "vec_id", "embedding", model)
      .orderBy(col("vid")).collect()
    val ref = emb.select(col("vec_id").as("vid"), hofCodes.as("codes"))
      .orderBy(col("vid")).collect()
    assert(enc.map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq ==
      ref.map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq)
  }

  test("pq_adc: parity with the element_at fold; l2_squared: parity with " +
      "the zip_with fold on float and double arrays") {
    val m = 16
    val table = (0 until m).map(mi =>
      (0 until 16).map(c => math.cos(mi * 17 + c) * 2.5))
    val codes = transform(sequence(lit(0), lit(m - 1)),
      i => pmod(i * 7 + 3, lit(16)).cast("int"))
    val hofAdc = aggregate(
      zip_with(sequence(lit(0), lit(m - 1)), codes,
        (mi, c) => element_at(element_at(typedLit(table), mi.cast("int") + 1),
          c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val kernAdc = GraftShim.column(PqAdc(GraftShim.expression(codes), table))
    val r = spark.range(1).select(kernAdc.as("k"), hofAdc.as("h")).head()
    assert(r.getDouble(0) == r.getDouble(1))

    val q = emb.filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = typedLit(q.map(_.toDouble))
    val rows = emb.select(
        VectorOps.l2sq(col("embedding"), qLit).as("kern"),
        ReferenceForms.l2sqHof(col("embedding"), qLit).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r2 => assert(r2.getDouble(0) == r2.getDouble(1), r2.toString))
    // length mismatch → null on both sides of the contract
    val mm = emb.limit(3)
      .select(VectorOps.l2sq(slice(col("embedding"), 1, 5), qLit).as("d"))
      .collect()
    mm.foreach(r2 => assert(r2.isNullAt(0)))
  }

  test("quant_argmin: bit-parity with the HOF fold on real quantized " +
      "embeddings, lowest-cid tie-break, empty centroids → -1") {
    val q = emb.select(col("vec_id"),
      VectorOps.quantize127(col("embedding")).as("qv"))
    val cents = q.filter(col("vec_id") < 8)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"),
        col("qv").as("cv")))).as("cs"))
    val hofBest = aggregate(col("cs"),
      struct(lit(Long.MaxValue).as("d2"), lit(-1L).as("cid")),
      (acc, c) => {
        val d2 = aggregate(
          zip_with(col("qv"), c.getField("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (s2, x) => s2 + x)
        when(d2 < acc.getField("d2"),
          struct(d2.as("d2"), c.getField("cid").as("cid"))).otherwise(acc)
      }).getField("cid")
    val kernBest = GraftShim.column(QuantArgmin(
      GraftShim.expression(col("qv")), GraftShim.expression(col("cs"))))
    val rows = q.crossJoin(broadcast(cents))
      .select(kernBest.as("k"), hofBest.as("h")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // tie: duplicated centroid vector under two cids → keep the lower
    import spark.implicits._
    val tied = Seq((Seq(1L, 2L),
      Seq((5L, Seq(1L, 1L)), (7L, Seq(1L, 1L))))).toDF("qv", "cs")
      .select(GraftShim.column(QuantArgmin(
        GraftShim.expression(col("qv")),
        GraftShim.expression(col("cs")))).as("c")).head()
    assert(tied.getLong(0) == 5L)
    // empty centroid array → the fold's init cid
    val empty = Seq((Seq(1L), Seq.empty[(Long, Seq[Long])])).toDF("qv", "cs")
      .select(GraftShim.column(QuantArgmin(
        GraftShim.expression(col("qv")),
        GraftShim.expression(col("cs")))).as("c")).head()
    assert(empty.getLong(0) == -1L)
  }

  test("pqTrain under the kernel reproduces the recenter contract: " +
      "round(avg, 9) means, stable across repartitioning") {
    val base = emb.filter(col("vec_id") =!= 0)
    val a = VectorOps.pqTrain(base, "vec_id", "embedding",
      m = 16, dim = 64, k = 16, iters = 2)
    val b = VectorOps.pqTrain(base.repartition(7), "vec_id", "embedding",
      m = 16, dim = 64, k = 16, iters = 2)
    assert(a.centroids.flatten.flatten.toSeq == b.centroids.flatten.flatten.toSeq)
    // and the trained model round-trips through encode deterministically
    val ca = VectorOps.pqEncode(base, "vec_id", "embedding", a)
      .orderBy(col("vid")).collect().map(_.getSeq[Int](1).toSeq).toSeq
    val cb2 = VectorOps.pqEncode(base.repartition(5), "vec_id", "embedding", b)
      .orderBy(col("vid")).collect().map(_.getSeq[Int](1).toSeq).toSeq
    assert(ca == cb2)
  }
}
