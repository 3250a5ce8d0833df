package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables

/** Vector / similarity-search operators (SURVEY §2.7 — V2/V3; reference
  * surface: cosine top-k over 1024-dim embeddings,
  * `usda-food-assistant/app.py:55-68`,
  * `utils/upload_data_to_pinecone.py:24-32`).
  *
  * UDF-free: higher-order functions (`zip_with` + `aggregate`) keep the
  * whole computation in Catalyst expressions. Elements are cast to double
  * BEFORE multiplying so the fold is a deterministic left-to-right double
  * sum — bit-identical with the DuckDB oracle's list fold.
  *
  * Scale notes: brute-force scoring is embarrassingly parallel (no
  * shuffle); top-k is TakeOrderedAndProject (per-partition heaps, only k
  * rows cross the wire). The ANN path (random-hyperplane LSH) turns the
  * O(n) scan into a bucket lookup: signatures are computed map-side, the
  * candidate fetch is a partition-pruned equi-join on the bucket key.
  */
object VectorOps {

  import org.apache.spark.sql.graftshim.GraftShim

  /** Left-to-right double-precision dot product — the single-pass custom
    * `DotProduct` expression (bit-identical to the zip_with+aggregate
    * fold it replaces; see graft.expr.VectorExpressions).
    */
  def dot(a: Column, b: Column): Column =
    GraftShim.column(graft.expr.DotProduct(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Same fold expressed only with built-ins — kept as the reference
    * formulation the custom expression is tested against.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Left-to-right double-precision squared L2 distance — the compiled
    * `L2Squared` kernel (bit-identical to the zip_with+aggregate fold it
    * replaces; parity in PqKernelsSpec).
    */
  def l2sq(a: Column, b: Column): Column =
    GraftShim.column(graft.expr.L2Squared(
      GraftShim.expression(a), GraftShim.expression(b)))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize a vector (divide by its norm; zero vectors pass
    * through). Pre-normalizing a stored corpus turns every cosine into a
    * plain dot product — at 100 TB that's one pass at ingest instead of
    * two norm folds per query pair.
    */
  def normalize(a: Column): Column =
    bindVec(a) { v =>
      val n = l2Norm(v)
      when(n === 0, v).otherwise(transform(v, x => (x.cast("double") / n).cast("float")))
    }

  private def bindVec(c: Column)(f: Column => Column): Column =
    TextOps.bind(c)(f)

  /** Max-abs int8-range quantization: each component →
    * `round(x · 127 / max|x|)` as a Long (an all-zero vector stays
    * all-zero). The shared front door of every exact-integer embedding
    * path (grid-DBSCAN, random projection, PCA power iteration, k-means
    * step): quantizing ONCE up front is what lets those operators run —
    * and their DuckDB oracles replay — in bit-exact integer arithmetic,
    * and at 100 TB it is also the 4×-smaller shuffle payload.
    */
  def quantize127(vec: Column): Column =
    bindVec(vec) { v =>
      val sc = array_max(transform(v, x => abs(x))).cast("double")
      when(sc === 0, transform(v, _ => lit(0L)))
        .otherwise(transform(v,
          x => round(x.cast("double") * 127.0 / sc).cast("long")))
    }

  /** Cosine similarity — one pass over both arrays. */
  def cosine(a: Column, b: Column): Column =
    GraftShim.column(graft.expr.CosineSimilarity(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** V2: exact cosine top-k of `vecCol` against one query vector.
    * Returns (idCol, score) ordered desc; ties broken by id asc.
    */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Float], k: Int, scoreScale: Int = 4): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol),
        round(cosine(col(vecCol), q), scoreScale).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Blocked exact near-duplicate pairs: candidates restricted to equal
    * `blockCol` (a label, an LSH bucket, ...) so the self-join is an
    * equi-join on the block key instead of an O(n²) cross product; pairs
    * with cosine >= threshold survive. `idA < idB` halves the pair space.
    *
    * Skew guard (`maxBlock`): intra-block pairing is O(block²), and one
    * hot block (a dense semantic cluster, the exact thing dedup hunts)
    * would otherwise funnel block² candidate rows through a single join
    * task. Blocks larger than `maxBlock` are split EXACTLY via triangle
    * self-join partitioning: ids hash into R = ceil(size/maxBlock) groups,
    * each row is replicated once per group k with tag
    * (min(g,k), max(g,k)), the equi-join runs on (block, tag), and each
    * pair survives only in the single tag equal to its own sorted group
    * pair — every intra-block pair appears EXACTLY once, so the result is
    * bit-identical to the unsplit join (unlike a secondary-hyperplane
    * split, which loses cross-sub-bucket twins — and which exact
    * duplicates defeat entirely: identical vectors share every
    * signature). Cost: hot-block rows replicate R× and per-tag pair work
    * is ~2·maxBlock²; cool blocks pay one join probe against the (tiny)
    * hot-block list. R is capped at 1024 — past that the
    * replication itself is the bottleneck and a coarser split keeps the
    * quadratic term the dominant (intended) cost. Default = MaxValue
    * keeps the plain single-join plan with zero added shuffles.
    */
  def nearDupCosine(df: DataFrame, idCol: String, vecCol: String,
                    blockCol: String, threshold: Double,
                    scoreScale: Int = 4,
                    maxBlock: Long = Long.MaxValue): DataFrame = {
    require(maxBlock >= 1, "nearDupCosine: maxBlock must be >= 1")
    // norms are computed ONCE per row before the join — inside the pair
    // expression they'd be folded per candidate pair (3 vector passes
    // per pair instead of 1)
    val withNorm = df.select(col(blockCol).as("block"), col(idCol),
      col(vecCol), l2Norm(col(vecCol)).as("nrm"))
    val keyed =
      if (maxBlock == Long.MaxValue)
        withNorm.withColumn("__ti", lit(0L)).withColumn("__tj", lit(0L))
          .withColumn("__g", lit(0L))
      else {
        val hot = withNorm.groupBy(col("block"))
          .agg(count(lit(1)).as("__cnt"))
          .filter(col("__cnt") > maxBlock)
          .select(col("block"),
            least(expr(s"(__cnt + ${maxBlock - 1}) div $maxBlock"), lit(1024L))
              .as("__r"))
        withNorm.join(hot, Seq("block"), "left")
          .withColumn("__r", coalesce(col("__r"), lit(1L)))
          .withColumn("__g", pmod(xxhash64(col(idCol)), col("__r")))
          .withColumn("__k", explode(sequence(lit(0L), col("__r") - 1)))
          .withColumn("__ti", least(col("__g"), col("__k")))
          .withColumn("__tj", greatest(col("__g"), col("__k")))
          .drop("__r", "__k")
      }
    val a = keyed.select(col("block"), col("__ti"), col("__tj"),
      col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("nrm").as("nrm_a"),
      col("__g").as("__ga"))
    val b = keyed.select(col("block"), col("__ti"), col("__tj"),
      col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("nrm").as("nrm_b"),
      col("__g").as("__gb"))
    a.join(b, Seq("block", "__ti", "__tj"))
      .filter(col("id_a") < col("id_b"))
      // tag-uniqueness: a pair belongs to exactly the tag that equals its
      // own sorted group pair — dedups the replicated copies exactly
      .filter(least(col("__ga"), col("__gb")) === col("__ti") &&
        greatest(col("__ga"), col("__gb")) === col("__tj"))
      // block cardinality may be far below the core count (10 labels →
      // parallelism 10); spread the candidate pairs before the expensive
      // per-pair dot products
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("score",
        round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")),
          scoreScale))
      .filter(col("score") >= lit(threshold))
      .select(col("block"), col("id_a"), col("id_b"), col("score"))
  }

  /** The seeded hyperplane matrix behind [[lshSignature]] — exposed so an
    * external oracle can embed the IDENTICAL doubles as literals and
    * reproduce every signature bit (Double.toString is shortest
    * round-trip form: any correct decimal parser recovers the exact
    * bits).
    */
  def lshPlanes(dim: Int, nBits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rng.nextGaussian())
  }

  /** Deterministic random-hyperplane signature: `nBits` hyperplanes drawn
    * from a seeded RNG on the driver (tiny: nBits × dim doubles), dot'd
    * against each vector; bit i = sign of the i-th projection. The plane
    * matrix is embedded as literals — broadcast-free, codegen-folded.
    */
  def lshSignature(vecCol: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val bits = lshPlanes(dim, nBits, seed).zipWithIndex.map { case (plane, i) =>
      val proj = dot(vecCol, typedLit(plane.toSeq))
      when(proj > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** SemDeDup-style semantic near-duplicate removal: deterministic
    * hyperplane signatures bucket the corpus map-side (O(n), no
    * pairwise work), then an intra-bucket exact-cosine pass marks every
    * vector that has a more-senior (lower-id) semantic twin. Returns one
    * row per REMOVED vector: (dup_id, kept_id = its lowest-id twin,
    * n_twins, score_kept = cosine to kept_id); survivors are
    * `df.join(result, df(id) === dup_id, "left_anti")`.
    *
    * Approximate by construction (a twin pair split across buckets is
    * missed — the standard SemDeDup trade) but fully DETERMINISTIC: the
    * planes are seeded and the cosine is exact, so an oracle embedding
    * the same plane literals reproduces the result bit-for-bit.
    *
    * At 100 TB: the only shuffle is the bucket equi-join; `nBits` tunes
    * bucket size (each extra bit halves expected pair work). Skewed
    * buckets (dense semantic clusters) are exactly the rows semantic
    * dedup is after — extra bits can't cap them (exact duplicates share
    * EVERY hyperplane signature), so the intra-bucket pairing runs under
    * `nearDupCosine`'s exact triangle-split guard: buckets beyond
    * `maxBucket` are partitioned into hash-group tags whose pairwise
    * work is bounded ~2·maxBucket² per task while the pair set — and
    * therefore this function's result — stays bit-identical.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    nBits: Int, threshold: Double,
                    seed: Long = 42L, maxBucket: Long = 4096L): DataFrame = {
    val withSig = df.select(col(idCol), col(vecCol),
      lshSignature(col(vecCol), dim, nBits, seed).as("bucket"))
    val pairs = nearDupCosine(withSig, idCol, vecCol, "bucket", threshold,
      maxBlock = maxBucket)
    pairs.groupBy(col("id_b").as("dup_id"))
      .agg(min(col("id_a")).as("kept_id"),
        count(lit(1)).as("n_twins"),
        min_by(col("score"), col("id_a")).as("score_kept"))
  }

  /** ANN top-k: multi-table random-hyperplane LSH. Each of `tables`
    * independent signatures buckets the corpus; the query probes its own
    * bucket plus all Hamming-distance-1 neighbors per table; the candidate
    * union is reranked by exact cosine.
    *
    * Approximate by construction — LSH recall is high for genuinely close
    * vectors (the dedup/near-dup regime) and degrades toward random for
    * near-orthogonal "neighbors"; tests assert recall on planted
    * neighbors. More `tables`/fewer `nBits` trades cost for recall.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, dim: Int, nBits: Int = 8,
              tables: Int = 4, seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qDf = Seq(query).toDF(vecCol)
    val tableCols = (0 until tables).map { t =>
      lshSignature(col(vecCol), dim, nBits, seed + t).as(s"sig_$t")
    }
    val qSigs = qDf.select(tableCols: _*).head()
    // candidate = matches the probe set of ANY table (bucket ∪ Hamming-1)
    val candidate = (0 until tables).map { t =>
      val qSig = qSigs.getLong(t)
      val probes = qSig +: (0 until nBits).map(b => qSig ^ (1L << b))
      col(s"sig_$t").isin(probes: _*)
    }.reduce(_ || _)
    df.select(col(idCol) +: col(vecCol) +: tableCols: _*)
      .filter(candidate)
      .select(col(idCol), round(cosine(col(vecCol), typedLit(query)), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN index: k-means centroids partition the
    * corpus; a query probes only the `nProbe` nearest partitions and
    * reranks exactly. The scale path next to LSH: centroids are a tiny
    * driver/broadcast artifact, the corpus is written partitioned by
    * `centroid` so a probe is a partition-pruned scan.
    */
  case class IvfIndex(assigned: DataFrame, centroids: Array[Array[Double]])

  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = df.select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol)).as("features"))
    // few Lloyd iterations suffice: the exact rerank over probed
    // partitions absorbs imperfect centroid placement
    val model = new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("centroid")
      .fit(feats)
    val assigned = model.transform(feats).drop("features")
    IvfIndex(assigned, model.clusterCenters.map(_.toArray))
  }

  /** [[ivfIndex]] with a partition-count-INVARIANT coarse quantizer:
    * deterministic distributed Lloyd (same construction as [[pqTrain]] —
    * init = the K corpus vectors with smallest (md5(id), id), assignment
    * by argmin distance to a broadcast centroid literal with first-index
    * tie-break, recenter on round(avg, 9) means). Spark ML's KMeans is
    * seeded but its k-means|| init samples DEPEND ON PARTITIONING —
    * the same fixture under local[4] vs local[16] yields different
    * centroids, so an index built by one session and probed under
    * another sees shifted cells. This builder gives bit-identical
    * centroids at any parallelism; per-iteration driver traffic is the
    * K·dim centroid table only.
    */
  def ivfIndexDeterministic(df: DataFrame, idCol: String, vecCol: String,
                            nCentroids: Int, iters: Int = 5): IvfIndex = {
    val seedRows = df
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("vid")).limit(nCentroids)
      .collect()
    var cents: Array[Array[Double]] =
      seedRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def assignCol(c: Array[Array[Double]]): Column = ivfAssign(col(vecCol), c)
    for (_ <- 1 to iters) {
      val centroidRows = df
        .select(assignCol(cents).as("c"), posexplode(col(vecCol)).as(Seq("d", "x")))
        .groupBy(col("c"), col("d"))
        // round(…, 9): pins the mean against float-sum association noise
        // (same stability contract as pqTrain)
        .agg(round(avg(col("x")), 9).as("m"))
        .collect()
      val next = cents.map(_.clone()) // an emptied cell keeps its centroid
      centroidRows.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      cents = next
    }
    IvfIndex(df.withColumn("centroid", assignCol(cents)), cents)
  }

  /** Nearest-centroid assignment as a pure column expression: argmin
    * squared-L2 distance to a broadcast centroid literal, first-index
    * tie-break — deterministic at any parallelism (the property
    * [[ivfIndexDeterministic]] exists for), and the SAME expression must
    * assign both the initial build and every appended batch or the index
    * silently fragments ([[ivfAppend]]).
    */
  def ivfAssign(vecCol: Column, centroids: Array[Array[Double]]): Column =
    GraftShim.column(graft.expr.NearestCode(
      GraftShim.expression(vecCol),
      centroids.map(_.toSeq).toSeq))

  /** The nProbe nearest centroid indexes of each ROW's vector, as a pure
    * column expression — [[nearestCentroids]] is the driver-side form for
    * ONE query vector; this is the in-plan form batched serving needs
    * (q_knn_ivf_batch: thousands of probes per pass, so cell selection
    * must run on the executors, not in a driver loop). Sorting
    * (distance, index) structs gives the same first-index tie-break as
    * [[ivfAssign]] — `ivfProbeCells(v, c, 1)[0] == ivfAssign(v, c)` by
    * construction, so batched probing and index assignment can never
    * disagree on cell 1.
    */
  def ivfProbeCells(vecCol: Column, centroids: Array[Array[Double]],
                    nProbe: Int): Column = {
    val lit2 = typedLit(centroids.map(_.toSeq).toSeq)
    val dists = transform(sequence(lit(0), lit(centroids.length - 1)), ci =>
      aggregate(
        zip_with(vecCol, element_at(lit2, ci + 1),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x))
    val idxed = transform(dists, (d, i) => struct(d.as("d"), i.as("i")))
    transform(slice(array_sort(idxed), 1, nProbe),
      s => s.getField("i").cast("int"))
  }

  /** Incremental IVF maintenance: assign a new batch under the EXISTING
    * (frozen) coarse quantizer and append ONLY the batch's files into
    * their centroid partition directories — the upsert loop of the
    * reference's vector-index load (utils/upload_data_to_pinecone.py:73-83)
    * re-expressed against the parquet IVF layout. Freezing the quantizer
    * is the point: probes over the appended index are bit-identical to a
    * full rebuild under the same centroids (q_ivf_append proves exact
    * parity), no existing file is rewritten, and at 100 TB the append
    * costs the batch's bytes, not the corpus's. Re-training centroids is
    * a rarer compaction decision, deliberately NOT part of this path.
    */
  def ivfAppend(batch: DataFrame, centroids: Array[Array[Double]],
                path: String, idCol: String, vecCol: String): Unit =
    batch.select(col(idCol), col(vecCol),
        ivfAssign(col(vecCol), centroids).as("centroid"))
      .write.partitionBy("centroid").mode("append").parquet(path)

  /** nProbe nearest centroids to the query — driver-side over the tiny
    * centroid array.
    */
  def nearestCentroids(centroids: Array[Array[Double]], query: Seq[Float],
                       nProbe: Int): Seq[Int] = {
    val q = query.map(_.toDouble).toArray
    centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < math.min(c.length, q.length)) {
          val t = c(j) - q(j); d += t * t; j += 1
        }
        (i, d)
      }
      .sortBy(_._2).take(nProbe).map(_._1).toIndexedSeq
  }

  def ivfTopK(index: IvfIndex, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nProbe: Int = 3): DataFrame = {
    val probes = nearestCentroids(index.centroids, query, nProbe)
    index.assigned
      .filter(col("centroid").isin(probes: _*))
      .select(col(idCol), round(cosine(col(vecCol), typedLit(query)), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Materialize the IVF index partitioned by centroid — the 100 TB
    * layout: each centroid is a parquet partition directory, so a probe
    * reads only nProbe directories (PartitionFilters in the scan, proven
    * in PlanSpec) instead of filtering the whole corpus.
    */
  def ivfWrite(index: IvfIndex, path: String): Unit =
    index.assigned.write.partitionBy("centroid").mode("overwrite").parquet(path)

  /** Probe a written IVF index: partition-pruned scan + exact rerank
    * ([[ivfTopK]]). A root with a committed version is probed at its
    * latest version ([[readIndexLatest]]: deleted rows hidden, files a
    * compaction replaced unlisted); an unversioned layout is read as the
    * directory it is.
    */
  def ivfTopKFromPath(spark: org.apache.spark.sql.SparkSession, path: String,
                      centroids: Array[Array[Double]], idCol: String,
                      vecCol: String, query: Seq[Float], k: Int,
                      nProbe: Int = 3): DataFrame = {
    val rows = latestVersion(spark, path) match {
      case Some(v) => readIndexVersionVisible(spark, path, v, idCol)
      case None => Tables.parquet(spark, path)
    }
    ivfTopK(IvfIndex(rows, centroids), idCol, vecCol, query, k, nProbe)
  }

  // ------------------------------------------------ product quantization

  /** Product-quantization model: `centroids(m)(c)` is the c-th codebook
    * centroid of subspace m (each of length dim/M). With M subspaces and
    * K centroids each, a vector compresses to M·log2(K) bits — at
    * (M=8, K=16) a 64-dim float vector (256 B) becomes 4 BYTES of codes,
    * the memory step that makes billion-vector ANN serving fit in RAM
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011 — public literature).
    */
  case class PqModel(centroids: Array[Array[Array[Double]]]) {
    def m: Int = centroids.length
    def k: Int = centroids.head.length
    def dsub: Int = centroids.head.head.length
  }

  /** Per-(row, subspace) long view of a vector frame: `(vid, m, sv)`. */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int, dsub: Int): DataFrame =
    df.select(col(idCol).as("vid"), posexplode(
      array((0 until m).map(i =>
        transform(slice(col(vecCol), i * dsub + 1, dsub),
          x => x.cast("double"))): _*)).as(Seq("m", "sv")))

  /** All M subspace codes of a vector under `model`, via the compiled
    * [[graft.expr.PqCodes]] kernel (same argmin arithmetic and
    * first-index tie-break as the HOF [[centroidDists]] +
    * `array_position(array_min)` form — parity in PqKernelsSpec).
    */
  private def pqCodesCol(vec: Column, model: PqModel): Column =
    GraftShim.column(graft.expr.PqCodes(GraftShim.expression(vec),
      model.centroids.map(_.map(_.toSeq).toSeq).toSeq))

  /** Distances from a subvector column to every centroid of its subspace
    * (3-D literal codebook indexed by the `m` column), as an array.
    */
  private def centroidDists(model: PqModel, sv: Column, mCol: Column): Column = {
    val lit3 = typedLit(model.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(model.k - 1)), c =>
      aggregate(
        zip_with(sv, element_at(element_at(lit3, mCol + 1), c + 1),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
  }

  /** Train PQ codebooks with deterministic Lloyd iterations. Init is the
    * K corpus vectors with smallest (md5(vid), vid) — a uniform,
    * engine-replayable draw; each iteration assigns every subvector to
    * its nearest centroid (first-index tie-break) and recenters on the
    * assignment mean. Per-iteration driver traffic is the M·K centroid
    * table ONLY (bounded, like Tiling's bucket metadata) — assignments
    * never leave the executors, so the shape is corpus-size-free.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int, dim: Int, k: Int, iters: Int = 2): PqModel = {
    val dsub = dim / m
    val seedRows = df
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("vid")).limit(k)
      .collect()
    var model = PqModel(Array.tabulate(m) { mi =>
      seedRows.map(r => r.getSeq[Float](1)
        .slice(mi * dsub, (mi + 1) * dsub).map(_.toDouble).toArray)
    })
    for (_ <- 1 to iters) {
      // one compiled-kernel pass per iteration: codes for the whole
      // vector in one projection (no per-subspace HOF argmin), then one
      // flat posexplode for the recenter — same (m, code, d, x) multiset
      // as the subvector-explode form, so the means are unchanged
      val mIdx = expr(s"CAST(j DIV $dsub AS INT)")
      val centroidRows = df
        .select(pqCodesCol(col(vecCol), model).as("codes"),
          col(vecCol).as("v"))
        .select(col("codes"), posexplode(col("v")).as(Seq("j", "x")))
        .select(mIdx.as("m"),
          element_at(col("codes"), mIdx + 1).cast("long").as("code"),
          pmod(col("j"), lit(dsub)).as("d"),
          col("x").cast("double").as("x"))
        .groupBy(col("m"), col("code"), col("d"))
        // round(…, 9): pins the mean against float-sum association noise
        // so retraining on the same data is bit-stable
        .agg(round(avg(col("x")), 9).as("c"))
        .collect()
      val next = model.centroids.map(_.map(_.clone()))
      centroidRows.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
      }
      model = PqModel(next)
    }
    model
  }

  /** Per-row PQ quantization error under FROZEN codebooks, micro-rounded
    * once to an exact long: `(vid, err_micro)` where err is the sum over
    * subspaces of the squared distance to the chosen centroid. This is
    * the health metric of a compressed index that keeps absorbing
    * appends ([[ivfPqAppend]]): rising error on new batches means the
    * frozen codebooks no longer fit the data and the RARE retrain
    * (q_ivf_rebalance's cost class) is due — the drift statistic behind
    * q_pq_drift's trigger booleans. `codeShift` > 0 scores each
    * subvector against the ((argmin + shift) mod K)-th centroid instead
    * of its argmin — by construction at least the true error on every
    * row, which gives the query a built-in positive control: a metric
    * that can't tell optimal codes from shifted ones couldn't detect
    * drift either. One corpus scan, subvector expand, one hash aggregate
    * — no joins, no windows.
    */
  def pqQuantError(df: DataFrame, idCol: String, vecCol: String,
                   model: PqModel, codeShift: Int = 0): DataFrame = {
    val sub = subvectors(df, idCol, vecCol, model.m, model.dsub)
    val dists = centroidDists(model, col("sv"), col("m"))
    val chosen =
      if (codeShift == 0) array_min(dists)
      else element_at(dists,
        (((array_position(dists, array_min(dists)) - 1 + codeShift)
          % model.k) + 1).cast("int"))
    sub.select(col("vid"), chosen.as("e"))
      .groupBy(col("vid"))
      .agg(round(sum(col("e")) * 1e6, 0).cast("long").as("err_micro"))
  }

  /** Encode every vector to its M codes: `(vid, codes: array<int>)`.
    * One compiled-kernel projection — no subspace explode, no groupBy
    * shuffle (the explode+collect_list form paid a 16×-row exchange just
    * to reassemble codes the kernel emits in order). Rows map 1:1 from
    * the input (every call site keys by a unique id).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame =
    df.select(col(idCol).as("vid"),
      pqCodesCol(col(vecCol), model).as("codes"))

  /** Incremental IVF-PQ maintenance — the PQ sibling of [[ivfAppend]]
    * and the index append that actually matters at 100 TB (the serving
    * index IS the PQ-coded one): encode a new batch under the EXISTING
    * (frozen) codebooks and assign it under the EXISTING (frozen) coarse
    * quantizer, then append ONLY the batch's code files into their
    * centroid partition directories. Freezing BOTH models is the point:
    * [[pqEncode]] is a deterministic function of (vector, codebooks), so
    * the appended index is bit-identical to a full re-encode of the
    * union under the same models (q_ivfpq_append proves exact ADC
    * parity), no existing file is rewritten, and the append costs the
    * batch's bytes, not the corpus's — the reference's Pinecone upsert
    * loop (utils/upload_data_to_pinecone.py:73-83) against the
    * compressed layout. Codebook RE-training is a rarer compaction
    * decision, deliberately NOT part of this path (same contract as
    * [[ivfAppend]]).
    */
  def ivfPqAppend(batch: DataFrame, centroids: Array[Array[Double]],
                  model: PqModel, path: String, idCol: String,
                  vecCol: String): Unit =
    pqEncode(batch, idCol, vecCol, model)
      .join(batch.select(col(idCol).as("vid"),
        ivfAssign(col(vecCol), centroids).as("centroid")), "vid")
      .write.partitionBy("centroid").mode("append").parquet(path)

  /** Targeted small-file compaction of a partitioned index layout — the
    * maintenance step every append path ([[ivfAppend]], [[ivfPqAppend]],
    * the streaming drain) eventually forces: each appended batch lands
    * new files in its centroid directories, and at 100 TB a
    * many-appends index degenerates into millions of KB-files whose
    * open/footer cost dominates the probe. Compaction is TARGETED: the
    * driver lists per-partition file counts (metadata-scale — one listing
    * per centroid directory, the same class of bounded driver work as
    * [[nearestCentroids]]), rewrites ONLY the directories holding more
    * than one file (one coalesced job each), and file-copies the
    * already-compact singletons — cost proportional to the HOT
    * partitions' bytes, never the corpus's. Rewriting row-identical
    * content is the contract: no re-assignment, no re-encoding
    * (q_ivfpq_compact proves exact set parity), which is what separates
    * compaction from the rarer retrain/rebalance decision.
    *
    * Returns (partitionsRewritten, filesBefore, filesAfter) for the
    * caller's audit row. Uses the Hadoop FS API so the same code drives
    * an object store at scale.
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, path: String,
                 outPath: String): (Int, Int, Int) = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    def dataFiles(p: HPath) =
      fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid="))
      .sortBy(_.getPath.getName)
    var rewritten = 0; var before = 0; var after = 0
    parts.foreach { part =>
      val files = dataFiles(part.getPath)
      before += files.length
      val dst = new HPath(outPath, part.getPath.getName)
      if (files.length > 1) {
        // hot partition: one coalesced rewrite of just this directory
        Tables.parquet(spark, part.getPath.toString).coalesce(1)
          .write.mode("overwrite").parquet(dst.toString)
        rewritten += 1
      } else {
        // already compact: a file copy (a metadata move on a real store),
        // never a decode+re-encode of bytes that are already right
        fs.mkdirs(dst)
        files.foreach(f => FileUtil.copy(fs, f.getPath, fs,
          new HPath(dst, f.getPath.getName), false, conf))
      }
      after += dataFiles(dst).length
    }
    (rewritten, before, after)
  }

  // --------------------------------------- manifest-pinned index versions

  /** Relative data-file paths (`centroid=K/part-….parquet`) of a
    * partitioned index layout, sorted — the driver-side listing is
    * metadata-scale (one listStatus per centroid directory, the same
    * bounded class as [[ivfCompact]]'s audit), and the RELATIVE form is
    * what belongs in a manifest: the layout can move roots (bucket
    * rename, replication) without invalidating its history.
    */
  def listIndexFiles(spark: org.apache.spark.sql.SparkSession,
                     path: String): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid="))
      .flatMap(part => fs.listStatus(part.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"${part.getPath.getName}/${f.getPath.getName}"))
      .sorted.toIndexedSeq
  }

  /** Commit an index version: write the file list as
    * `_manifests/v{version}.manifest` (one relative path per line),
    * failing if the version already exists. On an object store this
    * single-file create IS the atomic commit point — appended data files
    * are invisible to every reader pinned to an older manifest until the
    * new manifest lands, which is how snapshot isolation works without
    * directory rename (the Iceberg/Delta commit idea, public
    * literature: Armbrust et al., "Delta Lake: High-Performance ACID
    * Table Storage over Cloud Object Stores", VLDB 2020). The underscore
    * prefix keeps parquet's directory discovery from reading manifests
    * as data.
    *
    * `meta` entries are committed ATOMICALLY with the file list as
    * `#key:value` header lines — the transactional home for commit
    * metadata (a streaming batch id, a tombstone-sidecar pointer): a
    * side marker file could land without the manifest (or vice versa)
    * across a crash, a header line cannot. Keys/values must not contain
    * newlines; keys must not contain ':'.
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    version: Int, files: Seq[String],
                    meta: Map[String, String] = Map.empty): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(meta.forall { case (k, v) =>
      !k.contains(':') && !k.contains('\n') && !v.contains('\n') },
      s"manifest meta keys must not contain ':' and entries no newlines: $meta")
    val p = new HPath(path, f"_manifests/v$version%05d.manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val header = meta.toSeq.sortBy(_._1).map { case (k, v) => s"#$k:$v" }
    val bytes = (header ++ files).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    atomicCreate(fs, path, p, bytes, s"manifest version $version")
  }

  /** Publish `bytes` at `p` atomically on BOTH axes — create-if-absent
    * AND full-content visibility — via write-temp-then-publish. A plain
    * `fs.create(p, overwrite = false)` makes the file VISIBLE before its
    * content lands, so a racing OCC loser's retry can read a torn
    * (empty) HEAD and commit a merge that silently drops the winner's
    * files. Publish:
    *  - local / NFS: POSIX link(2) (Files.createLink) fails EEXIST
    *    atomically and links the fully-written temp;
    *  - HDFS: rename refuses an existing destination atomically.
    *
    * SCOPE OF THE GUARANTEE: local and HDFS only. The non-local branch
    * is exists-then-rename — a TOCTOU on stores whose rename is
    * copy+delete (S3A): two racers can pass the exists check together
    * and the second rename silently overwrites the first manifest — the
    * exact lost update [[commitFilesOcc]]'s safety argument rules out.
    * Running the OCC path against an object store needs a
    * conditional-PUT (if-none-match) or coordination-service
    * implementation behind this call — the Delta LogStore design; the
    * HDFS-compatible semantics here are what LogStore's HDFS
    * implementation provides, and this method is the single seam to
    * swap.
    *
    * Throws IOException when `p` already exists (the commit-refusal
    * every duplicate-version check relies on). A crash between the temp
    * write and the publish leaves `_manifests/.tmp-<uuid>` behind;
    * [[vacuumLog]] reclaims aged ones.
    */
  private def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
                           root: String, p: org.apache.hadoop.fs.Path,
                           bytes: Array[Byte], what: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val tmp = new HPath(root,
      s"_manifests/.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write(bytes) finally out.close()
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      catch { case e: java.nio.file.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"$what already committed under $root", e)
      }
      fs.delete(tmp, false)
    } else {
      if (fs.exists(p) || !fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"$what already committed under $root")
      }
    }
  }

  private def manifestPath(path: String, version: Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    new HPath(path, f"_manifests/v$version%05d.manifest")
  }

  /** True iff `version` has been committed (its manifest exists). */
  def manifestExists(spark: org.apache.spark.sql.SparkSession, path: String,
                     version: Int): Boolean = {
    val p = manifestPath(path, version)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The non-empty lines of a committed metadata file (a manifest, a
    * sidecar, a checkpoint) — loud on a missing one. */
  private def fileLines(spark: org.apache.spark.sql.SparkSession,
                        p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toIndexedSeq
    finally in.close()
  }

  /** One committed version as its manifest records it, from ONE manifest
    * read: the file list and the commit metadata (the `#key:value`
    * header lines — empty for manifests committed without any). Every
    * per-version concern a reader needs (the delete sidecars, the column
    * mapping, the table checks) resolves from here, so a read opens its
    * manifest once, not once per concern.
    */
  final case class Snapshot(path: String, version: Int, files: Seq[String],
                            meta: Map[String, String]) {
    /** The id tombstone sidecar, if the manifest references one —
      * resolved via the `deletes` header, never by probing `_deletes/`:
      * an orphaned sidecar (a crashed or version-race-losing commit)
      * must stay invisible. */
    def tombstones(spark: org.apache.spark.sql.SparkSession): Option[DataFrame] =
      meta.get("deletes").map(rel => Tables.parquet(spark, resolveRel(path, rel)))

    /** The deletion-vector sidecar `(file, pos)`, resolved like
      * [[tombstones]] via the `dv` header. */
    def deletionVector(spark: org.apache.spark.sql.SparkSession)
        : Option[DataFrame] =
      meta.get("dv").map(rel => Tables.parquet(spark, resolveRel(path, rel)))

    /** physical → logical column names, empty before any rename. */
    def columnMapping: Map[String, String] =
      meta.get("colmap").map(_.split(',').toSeq.map { e =>
        val i = e.indexOf('=')
        require(i > 0, s"malformed colmap entry: $e")
        e.take(i) -> e.drop(i + 1)
      }.toMap).getOrElse(Map.empty)

    /** The physical columns dropped as of this version. */
    def droppedColumns: Seq[String] =
      meta.get("coldrop").map(_.split(',').toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)

    /** The table CHECK constraints (name → parsed Column). */
    def checks: Seq[(String, Column)] = meta.get("checks") match {
      case None => Seq.empty
      case Some(b64) =>
        new String(java.util.Base64.getDecoder.decode(b64),
          java.nio.charset.StandardCharsets.UTF_8)
          .split('\n').toSeq.filter(_.nonEmpty).map { l =>
            val i = l.indexOf('\t')
            require(i > 0, s"malformed checks entry: ${l.take(80)}")
            l.take(i) -> expr(l.drop(i + 1))
          }
    }

    /** The carried-state headers ([[CarriedKeys]]) a successor version
      * inherits, minus the keys its writer consumes itself (`except`). */
    def carried(except: Set[String] = Set.empty): Map[String, String] =
      meta.filter { case (k, _) => CarriedKeys.contains(k) && !except(k) }

    /** This snapshot as another index root sees it — the source of a
      * cross-root commit ([[cloneIndex]], [[promoteVersion]]): file
      * entries and the sidecar pointers (`deletes`, `dv`) absolutize
      * against this root; value headers carry verbatim. */
    def rootedAt(root: String): Snapshot =
      Snapshot(root, version, files.map(resolveRel(path, _)),
        meta ++ Seq("deletes", "dv").flatMap(k =>
          meta.get(k).map(rel => k -> resolveRel(path, rel))))
  }

  /** The [[Snapshot]] committed as `version` — fails loudly on a missing
    * manifest (a reader must never silently fall back to "whatever files
    * are in the directory": that is exactly the torn read manifests
    * exist to prevent).
    */
  def snapshot(spark: org.apache.spark.sql.SparkSession, path: String,
               version: Int): Snapshot = {
    val (header, files) =
      fileLines(spark, manifestPath(path, version)).partition(_.startsWith("#"))
    Snapshot(path, version, files, header.map { l =>
      val i = l.indexOf(':')
      require(i > 1, s"malformed manifest meta line: $l")
      l.substring(1, i) -> l.substring(i + 1)
    }.toMap)
  }

  /** The file list committed as `version` ([[snapshot]]). */
  def readManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                   version: Int): Seq[String] =
    snapshot(spark, path, version).files

  /** The commit metadata of `version` ([[snapshot]]). */
  def readManifestMeta(spark: org.apache.spark.sql.SparkSession,
                       path: String, version: Int): Map[String, String] =
    snapshot(spark, path, version).meta

  /** Every committed version, ascending — one `_manifests/` listing
    * (metadata-scale). Empty when the index has never been committed.
    */
  def listVersions(spark: org.apache.spark.sql.SparkSession,
                   path: String): Seq[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = new HPath(path, "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted.toIndexedSeq
  }

  /** The newest committed version — the resolution every reader was
    * hand-coding ("readers must know the version integer" was the gap):
    * max over the `_manifests/` listing, None on a never-committed
    * layout. One directory listing; the manifests themselves are not
    * read.
    */
  def latestVersion(spark: org.apache.spark.sql.SparkSession,
                    path: String): Option[Int] =
    listVersions(spark, path).lastOption

  /** Read the index at its newest committed version, EVERY delete kind
    * applied ([[readIndexVersionVisible]] — HEAD must never serve
    * deleted rows, whether an id tombstone or a DV position hides
    * them). The default entry point of a reader that doesn't care about
    * time travel; pinned readers keep using [[readIndexVersion]] /
    * [[readIndexVersionMor]] / [[readIndexVersionVisible]] with an
    * explicit version.
    */
  def readIndexLatest(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version under $path"))
    readIndexVersionVisible(spark, path, v, idCol)
  }

  /** The idempotence key of a streaming commit: `{sink}:{batchId}`.
    * Every Spark streaming query's batchIds start at 0, so a bare
    * batchId namespace is a COLLISION between sibling sinks on one index
    * (an append stream plus a right-to-be-forgotten delete queue, each
    * with its own checkpoint): the second stream's batch 0,1,2… would
    * falsely match the first's committed ids and be silently dropped as
    * replays. The sink name — per-stream, stable across restarts (the
    * streaming queryName is the natural choice) — namespaces the key so
    * distinct streams can never collide; "" is the sink of ad-hoc /
    * pre-namespace commits, whose keys read `:{id}`.
    */
  def batchKey(sink: String, batchId: Long): String = {
    require(!sink.contains(':') && !sink.contains('\n'),
      s"sink name must not contain ':' or newlines: $sink")
    s"$sink:$batchId"
  }

  private def metaBatchKey(meta: Map[String, String]): Option[String] =
    meta.get("batch").map(id => s"${meta.getOrElse("sink", "")}:$id")

  /** Resolve a TIMESTAMP to a committed version: the newest version
    * whose commit timestamp (the `ts` manifest-meta key, epoch millis)
    * is ≤ `ts` — `timestampAsOf`, the second call every
    * Delta/Iceberg-style table's users make after `latest`. The
    * timestamp is CALLER-SUPPLIED at commit time and carried in the
    * manifest header (deterministic and replayable — wall-clock stamped
    * inside the engine would make reruns resolve differently); callers
    * are expected to pass non-decreasing values, and ties resolve to the
    * highest version. Loud when `ts` predates the first timestamped
    * commit — "the table at a time before it existed" must be an error,
    * not an empty read. Versions committed WITHOUT a `ts` header predate
    * timestamping and are not timestamp-resolvable (integer-pinned reads
    * still serve them). Cost: one `_manifests/` listing + header reads —
    * metadata-scale.
    */
  def versionAsOf(spark: org.apache.spark.sql.SparkSession,
                  path: String, ts: Long): Int = {
    val stamped = listVersions(spark, path).flatMap { v =>
      readManifestMeta(spark, path, v).get("ts").map(t => (v, t.toLong)) }
    if (stamped.isEmpty) throw new IllegalStateException(
      s"no timestamped version under $path")
    val eligible = stamped.filter(_._2 <= ts)
    if (eligible.isEmpty) throw new IllegalStateException(
      s"ts=$ts predates the first commit (ts=${stamped.map(_._2).min}) " +
        s"under $path")
    eligible.maxBy { case (v, t) => (t, v) }._1
  }

  /** Read the index AS OF a timestamp, every delete kind applied — the
    * timestamp sibling of [[readIndexLatest]]:
    * [[versionAsOf]] → [[readIndexVersionVisible]].
    */
  def readIndexAsOf(spark: org.apache.spark.sql.SparkSession,
                    path: String, ts: Long, idCol: String): DataFrame =
    readIndexVersionVisible(spark, path, versionAsOf(spark, path, ts),
      idCol)

  /** Every streaming batch id ever committed, as namespaced
    * [[batchKey]]s — the replay-idempotence check of [[ivfAppendBatch]]
    * / [[commitDeletesBatch]] / [[ivfUpsertBatch]]: foreachBatch
    * delivery is at-least-once, and a redelivered batch whose key is
    * already in a committed manifest must be skipped, not re-appended.
    * Checkpoint-aware ([[writeBatchIdCheckpoint]]): resolution reads the
    * newest batch-id checkpoint plus only the manifests committed AFTER
    * it. Without checkpoints every micro-batch of a long-lived stream
    * re-reads the whole commit log — O(V) per batch, O(V²) over the
    * stream's life; with them the per-batch cost is the TAIL since the
    * last checkpoint (the Delta checkpoint design, public literature).
    */
  def committedBatchKeys(spark: org.apache.spark.sql.SparkSession,
                         path: String): Set[String] =
    committedBatchKeysAudit(spark, path)._1

  /** [[committedBatchKeys]] plus its own cost evidence:
    * (keys, manifestsRead, checkpointUsed) — q_commit_checkpoint pins
    * `manifestsRead` to the tail length to prove the checkpoint actually
    * short-circuits the log replay.
    */
  def committedBatchKeysAudit(spark: org.apache.spark.sql.SparkSession,
                              path: String)
      : (Set[String], Int, Option[Int]) = {
    val versions = listVersions(spark, path)
    val ckpt = listBatchIdCheckpoints(spark, path)
      .filter(v => versions.contains(v)).lastOption
    val baseKeys = ckpt.map(readBatchIdCheckpoint(spark, path, _))
      .getOrElse(Set.empty[String])
    val tail = versions.filter(v => ckpt.forall(_ < v))
    (baseKeys ++ tail.flatMap(v =>
      metaBatchKey(readManifestMeta(spark, path, v))),
      tail.length, ckpt)
  }

  /** The version a streaming batch committed as, by its idempotence key
    * — the replay-recovery lookup of a DOWNSTREAM consumer: when the
    * index commit of (sink, batchId) was skipped as a replay but the
    * consumer's own commit (a maintained view) is missing — a crash in
    * the window between the two — the consumer needs THAT batch's
    * version to read its change set. Newest-first scan of the manifest
    * headers (metadata-scale; a long log resolves via the same
    * checkpoint-tail discipline as [[committedBatchKeys]] in a
    * production deployment).
    */
  def versionOfBatchKey(spark: org.apache.spark.sql.SparkSession,
                        path: String, sink: String,
                        batchId: Long): Option[Int] = {
    val key = batchKey(sink, batchId)
    listVersions(spark, path).reverse.find(v =>
      metaBatchKey(readManifestMeta(spark, path, v)).contains(key))
  }

  /** Commit a SMALL dataframe as a whole-snapshot version: the rows land
    * as one deterministically-named file (`centroid=0/snap-{tag}
    * .parquet`, stage-then-rename — a crashed attempt's leftover is
    * overwritten by the retry, never duplicated) and the manifest lists
    * ONLY that file, so each version is a self-contained snapshot read.
    * The commit shape of a maintained VIEW beside a big index: the view
    * is aggregate-sized, its history wants the same manifest protocol
    * (versioned, replay-idempotent via `meta` batch keys, vacuumable),
    * and one file per version is the right physical layout for it.
    */
  def commitSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
                            path: String, version: Int, tag: String,
                            df: DataFrame,
                            meta: Map[String, String] = Map.empty): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"),
      s"snapshot tag must be filesystem-safe: $tag")
    val rel = s"centroid=0/snap-$tag.parquet"
    land(spark, path, s"_staging/snap_$tag", Some(version),
      df.coalesce(1).write)((_, _) => rel)
    // a whole snapshot: nothing carries from any earlier version
    commitVersion(spark, Snapshot(path, 0, Seq.empty, Map.empty), version,
      Seq(rel), Nil, Set.empty, meta)
  }

  /** The committed batch ids with their sink namespace STRIPPED — the
    * audit view ("which delivery ids ever landed, from any stream").
    * NOT an idempotence check: two sinks legitimately share ids here;
    * replay skipping must go through [[committedBatchKeys]].
    */
  def committedBatchIds(spark: org.apache.spark.sql.SparkSession,
                        path: String): Set[Long] =
    committedBatchIdsAudit(spark, path)._1

  /** [[committedBatchIds]] with the cost evidence of
    * [[committedBatchKeysAudit]]. */
  def committedBatchIdsAudit(spark: org.apache.spark.sql.SparkSession,
                             path: String)
      : (Set[Long], Int, Option[Int]) = {
    val (keys, tailLen, ckpt) = committedBatchKeysAudit(spark, path)
    (keys.map(k => k.substring(k.lastIndexOf(':') + 1).toLong),
      tailLen, ckpt)
  }

  /** Checkpoint the batch-key set as of `version` into
    * `_manifests/v{N}.batchids` (one `{sink}:{id}` key per line, sorted)
    * with the same atomic single-file publish as manifests — a torn
    * checkpoint would MISS keys and let a replay double-commit, which is
    * strictly worse than no checkpoint. Idempotent: an existing
    * checkpoint for the same version is left in place (a replayed
    * micro-batch may retry the write). Streaming sinks call this every
    * `checkpointEvery` commits; any committed version works because keys
    * are cumulative.
    */
  def writeBatchIdCheckpoint(spark: org.apache.spark.sql.SparkSession,
                             path: String, version: Int): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val keys = listVersions(spark, path).filter(_ <= version)
      .flatMap(v => metaBatchKey(readManifestMeta(spark, path, v))).sorted
    val p = new HPath(path, f"_manifests/v$version%05d.batchids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) return
    try commitSidecar(spark, path, p.getName, keys,
      s"batch-id checkpoint v$version")
    catch { case _: java.io.IOException if fs.exists(p) => () }
  }

  /** Versions that carry a batch-id checkpoint, ascending. */
  def listBatchIdCheckpoints(spark: org.apache.spark.sql.SparkSession,
                             path: String): Seq[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = new HPath(path, "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".batchids") =>
        n.stripPrefix("v").stripSuffix(".batchids").toInt }
      .sorted.toIndexedSeq
  }

  /** The checkpointed batch-key set at `version` — loud on missing.
    * Lines written before sink namespacing are bare batchIds; they
    * normalize to the empty-sink key `:{id}`, so old checkpoints keep
    * protecting the commits they recorded.
    */
  def readBatchIdCheckpoint(spark: org.apache.spark.sql.SparkSession,
                            path: String, version: Int): Set[String] =
    fileLines(spark, new org.apache.hadoop.fs.Path(path,
        f"_manifests/v$version%05d.batchids"))
      .map(l => if (l.contains(':')) l else s":$l").toSet

  /** The commit log as a DataFrame — DESCRIBE HISTORY for the versioned
    * index: (version, op, n_files, has_deletes, batch, restore_of), one
    * row per committed version, read entirely from manifests
    * (metadata-scale driver work, zero data-file I/O). `op` is empty for
    * commits that predate operation tagging — the log stays readable
    * across its own schema evolution.
    */
  def describeHistory(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    import spark.implicits._
    listVersions(spark, path).map { v =>
      val snap = snapshot(spark, path, v)
      val meta = snap.meta
      (v, meta.getOrElse("op", ""),
        snap.files.length,
        meta.contains("deletes"),
        meta.get("batch").map(_.toLong),
        meta.get("restore_of").map(_.toInt))
    }.toDF("version", "op", "n_files", "has_deletes", "batch",
      "restore_of")
  }

  /** Read an index AS OF a committed version: exactly the manifest's
    * files ([[scan]]). Files appended after this version's commit are
    * invisible by construction: they are not in the list.
    */
  def readIndexVersion(spark: org.apache.spark.sql.SparkSession,
                       path: String, version: Int): DataFrame = {
    val snap = snapshot(spark, path, version)
    scan(spark, snap, snap.files)
  }

  /** The one file-subset read of a snapshot: exactly `files` (entries of
    * `snap.files`), with `basePath` so the `centroid=` directory
    * structure still yields the partition column — a probe against any
    * version stays partition-pruned (PartitionFilters, locked in
    * PlanSpec). External (clone-inherited) entries group by their own
    * root, each with its own `basePath`. An empty subset reads as an
    * empty frame with the version's schema.
    */
  def scan(spark: org.apache.spark.sql.SparkSession, snap: Snapshot,
           files: Seq[String]): DataFrame = {
    require(snap.files.nonEmpty,
      s"v${snap.version} of ${snap.path} lists no files")
    if (files.isEmpty) readFiles(spark, snap.path, snap.files).limit(0)
    else readFiles(spark, snap.path, files)
  }

  /** The non-empty entry list `files` of the index at `path` as one
    * frame — the read under [[scan]] and every other file-list read:
    * local entries under `path`, external ones grouped by their own
    * root.
    */
  private def readFiles(spark: org.apache.spark.sql.SparkSession,
                        path: String, files: Seq[String]): DataFrame = {
    val (ext, loc) = files.partition(isExternal)
    val parts =
      (if (loc.nonEmpty)
         Seq(Tables.parquet(spark, loc.map(resolveRel(path, _)),
           Map("basePath" -> path)))
       else Nil) ++
      ext.groupBy(externalRoot).toSeq.sortBy(_._1).map { case (r, fs) =>
        Tables.parquet(spark, fs, Map("basePath" -> r)) }
    // allowMissingColumns: a single-root parquet read pads a column
    // absent from some files with nulls; a cross-root read must behave
    // identically or a clone's mixed manifest changes schema semantics
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** True iff a manifest entry escapes its index root: an absolute URI —
    * the cross-root reference shallow clones ([[cloneIndex]]) and branch
    * promotes ([[promoteVersion]]) commit. Ordinary commits write
    * root-relative entries and never hit this.
    */
  private def isExternal(entry: String): Boolean =
    entry.startsWith("/") || entry.contains("://")

  /** The index root an EXTERNAL entry lives under — its URI minus the
    * `centroid=K/part-…` tail. Grouping external entries by root lets
    * each group keep its own `basePath`, so the partition column
    * survives a cross-root read.
    */
  private def externalRoot(entry: String): String =
    entry.split('/').dropRight(2).mkString("/")

  /** Resolve a manifest entry or a sidecar pointer (`deletes` / `dv`
    * header value) against its index root — external ones (committed by
    * clones/promotes) resolve as-is. */
  private def resolveRel(path: String, rel: String): String =
    if (isExternal(rel)) rel else s"$path/$rel"

  /** Refuse a rewrite over a manifest carrying EXTERNAL
    * (clone-inherited, absolute-URI) entries. Every rewrite path groups
    * entries by their first path segment and lands outputs beside the
    * old files under THIS root — on an absolute entry that grouping is
    * silently wrong (the scheme prefix becomes the "partition") and the
    * rewrite would corrupt the clone's view of its source's bytes.
    * Loud refusal is the honest semantics: localize the clone first
    * (re-materialize its inherited files under its own root), then
    * compact/recluster/apply freely. Appends, metadata commits and
    * every read path remain clone-safe — only physical rewrites carry
    * this restriction.
    */
  private def requireLocalEntries(files: Seq[String], what: String): Unit =
    files.find(isExternal).foreach(f =>
      throw new IllegalArgumentException(
        s"$what: manifest carries external (clone-inherited) entries " +
          s"(e.g. ${f.take(120)}) — physical rewrites assume " +
          "root-relative paths; localize the clone before rewriting"))

  /** The manifest-header keys that describe a version's LOGICAL state
    * beyond its file list — pending deletes of both kinds and the
    * column-mapping DDL. Every writer that commits a successor version
    * carries these ([[commitVersion]]) unless it explicitly CONSUMES one
    * (folds a delete physically, recomputes a mapping): the single
    * shared list is what makes "a new commit path forgot a key and
    * silently resurrected deleted rows / dropped columns" structurally
    * impossible — the exact bug class a per-site hand-picked
    * `filterKeys` invited.
    */
  private[ops] val CarriedKeys: Seq[String] =
    Seq("deletes", "dv", "dvcount", "colmap", "coldrop", "checks")

  /** The one commit every versioned writer ends in: enforce `from`'s
    * table checks on the files this commit `created` (staged batches,
    * rewritten partitions, binpack outputs, localized copies — never the
    * re-listed corpus; refusal comes before the manifest create, so the
    * new files stay unreferenced), then commit `toVersion` under
    * `from`'s root as `files` with `from`'s carried state minus the keys
    * the writer `consumes`, plus the writer's own `headers`. A writer
    * thus carries every [[CarriedKeys]] entry by default and names only
    * what it consumes. `note` qualifies the refusal message.
    */
  private def commitVersion(spark: org.apache.spark.sql.SparkSession,
                            from: Snapshot, toVersion: Int,
                            files: Seq[String], created: Seq[String],
                            consumes: Set[String],
                            headers: Map[String, String],
                            note: String = ""): Unit = {
    val checks = from.checks
    if (created.nonEmpty && checks.nonEmpty)
      requireChecks(spark, from.path, created, checks,
        s"commit of v$toVersion$note")
    writeManifest(spark, from.path, toVersion, files,
      from.carried(consumes) ++ headers)
  }

  /** Throw the commit refusal ("already committed") when `version` is
    * committed under `path` — the guard a writer runs before it
    * replaces anything named by a version: once the version is
    * committed, the name belongs to whoever committed it. */
  private def refuseCommitted(spark: org.apache.spark.sql.SparkSession,
                              path: String, version: Int): Unit =
    if (manifestExists(spark, path, version))
      throw new java.io.IOException(
        s"manifest version $version already committed under $path")

  /** The one landing step of every writer that adds data files: write
    * `out` (the configured writer of the frame to land) into the
    * staging directory `stageRel`, list its parquet outputs in name
    * order (partition directory, then file), move each to the caller's
    * deterministic name `name(dir, i)` — `dir` the `centroid=`
    * directory (`""` for an unpartitioned write), `i` the file's index
    * within it — and drop the staging directory. Nothing landed is
    * visible until a manifest lists it, and a retry replaces its own
    * crash leftovers — but only while `toVersion`, the version the
    * names are keyed by, is uncommitted: once it is committed the names
    * belong to the version that won, and the landing refuses
    * ([[refuseCommitted]]) before it touches any of them. Returns the
    * landed relpaths in that order.
    */
  private def land(spark: org.apache.spark.sql.SparkSession, path: String,
                   stageRel: String, toVersion: Option[Int],
                   out: org.apache.spark.sql.DataFrameWriter[
                     org.apache.spark.sql.Row])
                  (name: (String, Int) => String): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val stage = new HPath(path, stageRel)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    out.mode("overwrite").parquet(s"$path/$stageRel")
    def outputs(dir: HPath) = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val dirs = fs.listStatus(stage).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid="))
      .map(_.getPath.getName).sorted
    val moves = ("" +: dirs).flatMap { d =>
      outputs(if (d.isEmpty) stage else new HPath(stage, d))
        .zipWithIndex.map { case (src, i) => src -> name(d, i) }
    }
    val rels = moves.map(_._2)
    require(rels.distinct.length == rels.length,
      s"landing names collide under $stageRel: ${rels.mkString(", ")}")
    if (rels.exists(r => fs.exists(new HPath(path, r))))
      toVersion.foreach(refuseCommitted(spark, path, _))
    moves.foreach { case (src, rel) =>
      val dst = new HPath(path, rel)
      fs.mkdirs(dst.getParent)
      fs.delete(dst, false) // crash leftover: referenced by no manifest
      require(fs.rename(src, dst), s"rename to $dst failed")
    }
    fs.delete(stage, true)
    rels
  }

  /** Write `df` as `toVersion`'s `dir` sidecar (`_deletes/vN`, `_dv/vN`:
    * one parquet file) and return its relpath. Like [[land]], it
    * replaces a crash leftover of an uncommitted `toVersion` and refuses
    * to replace the sidecar of a committed one. */
  private def writeVersionSidecar(spark: org.apache.spark.sql.SparkSession,
                                  path: String, dir: String, toVersion: Int,
                                  df: DataFrame): String = {
    val rel = s"$dir/v$toVersion"
    val p = new org.apache.hadoop.fs.Path(path, rel)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      refuseCommitted(spark, path, toVersion)
    df.coalesce(1).write.mode("overwrite").parquet(s"$path/$rel")
    rel
  }

  /** Split `snap`'s deletion vector across a rewrite of the manifest
    * files `rewritten` selects. DV sidecars are keyed by (file, pos); a
    * rewrite that copies rows into NEW files breaks every entry pointing
    * at a rewritten file — carrying the pointer forward verbatim would
    * silently RESURRECT those rows in the new version. Here the entries
    * partition exactly:
    *  - entries whose file is rewritten are APPLIED physically (the
    *    returned transform anti-joins them on scan metadata inside the
    *    rewrite — the doomed rows never reach the new files);
    *  - entries for untouched files stay valid and re-land as
    *    `toVersion`'s sidecar (or the pointer carries verbatim when no
    *    rewritten file holds a DV entry — the common case, zero
    *    sidecar I/O).
    * Returns (metaAdditions, filesWithAppliedEntries, transform). All
    * driver-side work is delete-sized, and so is the transform's
    * anti-join side.
    */
  private def splitDvForRewrite(spark: org.apache.spark.sql.SparkSession,
                                snap: Snapshot, toVersion: Int,
                                rewritten: String => Boolean)
      : (Map[String, String], Set[String], DataFrame => DataFrame) = {
    val none = (Map.empty[String, String], Set.empty[String],
      identity[DataFrame] _)
    val meta = snap.meta
    // a ZERO-entry DV is no DV (ADVICE r12): a legal degenerate history
    // (zero-match predicate committed before the writer learned to skip
    // the header) must stay physically applicable — carrying the empty
    // pointer verbatim would trip applyDeletes' full-apply assertion
    if (!meta.contains("dv") || meta.get("dvcount").contains("0"))
      return none
    val verbatim = (Map("dv" -> meta("dv")) ++
      meta.get("dvcount").map("dvcount" -> _), Set.empty[String],
      identity[DataFrame] _)
    // a DV entry names its file by the last two path segments
    // (`centroid=K/part-…`), whatever root the manifest entry has
    val files = snap.files.filter(rewritten)
      .map(_.split('/').takeRight(2).mkString("/"))
    if (files.isEmpty && meta.contains("dvcount"))
      return verbatim // dvcount > 0, checked above
    val dv = snap.deletionVector(spark).get
      .select(col("file"), col("pos").cast("long").as("pos"))
    // ONE delete-sized job: the entry count of every file the DV names
    val entries = dv.groupBy(col("file")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // no dvcount header (foreign writer): only the read can tell an
    // empty DV
    if (!meta.contains("dvcount") && entries.isEmpty) return none
    if (files.isEmpty) return verbatim
    val inRewrite = col("file").isin(files: _*)
    val appliedFiles = entries.keySet.filter(files.toSet)
    if (appliedFiles.isEmpty) return verbatim
    val applier: DataFrame => DataFrame = subtractDv(_, dv.filter(inRewrite))
    val keptDv = dv.filter(!inRewrite)
    val nKept = entries.collect {
      case (f, n) if f != null && !appliedFiles(f) => n }.sum
    if (nKept == 0L) (Map.empty, appliedFiles, applier)
    else {
      val rel = writeVersionSidecar(spark, snap.path, "_dv", toVersion, keptDv)
      (Map("dv" -> rel, "dvcount" -> nKept.toString), appliedFiles, applier)
    }
  }

  /** `df` — a direct scan of data files — minus the `(file, pos)`
    * positions `dv` names. The key is scan metadata
    * (`_metadata.file_path` / `row_index`), never a data column, so rows
    * with duplicate or absent keys delete correctly. A correlated
    * NOT EXISTS filter, which the optimizer rewrites to the same left
    * anti-join: unlike a join on added key columns, it leaves the
    * result's `_metadata` resolvable for a caller. The outer references
    * are qualified by an alias: unqualified, `_metadata` resolves against
    * the sidecar's own scan and nothing is subtracted. `dv` is delete-sized,
    * so Spark's join selection broadcasts it, and past its threshold the
    * same join shuffles.
    */
  private def subtractDv(df: DataFrame, dv: DataFrame): DataFrame =
    df.as("__dv_scan").filter(!dv.filter(
      col("file") === substring_index(
        col("__dv_scan._metadata.file_path").outer(), "/", -2) &&
        col("pos").cast("long") ===
          col("__dv_scan._metadata.row_index").outer().cast("long"))
      .exists())

  /** `df` (a scan of `snap`) minus `snap`'s deletion-vector positions. */
  private def withoutDv(spark: org.apache.spark.sql.SparkSession,
                        snap: Snapshot, df: DataFrame): DataFrame =
    snap.deletionVector(spark).fold(df)(subtractDv(df, _))

  /** `df` (a scan of `snap`) minus `snap`'s id tombstones — a left-anti
    * join on the id column (tombstone sets are id-sized). */
  private def withoutTombstones(spark: org.apache.spark.sql.SparkSession,
                                snap: Snapshot, df: DataFrame,
                                idCol: String): DataFrame =
    snap.tombstones(spark).fold(df)(d => df.join(
      d.select(col("vid").as(idCol)), Seq(idCol), "left_anti"))

  /** Every row `snap` serves: DV positions subtracted first, then id
    * tombstones. */
  private def visible(spark: org.apache.spark.sql.SparkSession,
                      snap: Snapshot, idCol: String): DataFrame =
    withoutTombstones(spark, snap,
      withoutDv(spark, snap, scan(spark, snap, snap.files)), idCol)

  /** Fully-VISIBLE read of a pinned version: deletion-vector positions
    * subtracted first (scan-metadata anti-join, [[readIndexVersionDv]]),
    * then id tombstones — the read every "what does this version
    * actually serve" consumer must use. [[readIndexVersionMor]] applies
    * only tombstones (the id-keyed sidecar its name promises) and stays
    * the pinned-reader entry point for id-delete-only histories; a path
    * that computes VISIBILITY (upsert/merge matched counts, HEAD
    * resolution, metadata-fallback scans) on a version that may carry
    * EITHER delete kind belongs here.
    */
  def readIndexVersionVisible(spark: org.apache.spark.sql.SparkSession,
                              path: String, version: Int,
                              idCol: String): DataFrame =
    visible(spark, snapshot(spark, path, version), idCol)

  /** Shallow-clone `srcVersion` of `src` as version 1 of `dst`: one
    * manifest write whose entries reference the SOURCE's data files by
    * absolute URI — zero data bytes copy (the Delta SHALLOW CLONE /
    * Iceberg snapshot-ref design, public literature). The clone is a
    * real index from then on: appends land local files beside the
    * inherited references, its version log is its own, and source
    * commits after the clone point are invisible to it by construction.
    * A pending tombstone/DV pointer at the clone point is carried,
    * absolutized the same way. CAVEAT (same as the public designs): a
    * vacuum on the SOURCE does not know about clones — retention policy
    * on a cloned-from index must keep the versions clones pin.
    */
  def cloneIndex(spark: org.apache.spark.sql.SparkSession, src: String,
                 dst: String, srcVersion: Int): Unit = {
    val from = snapshot(spark, src, srcVersion).rootedAt(dst)
    commitVersion(spark, from, 1, from.files, Nil, Set.empty,
      Map("op" -> "clone", "source" -> src,
        "source_version" -> srcVersion.toString))
  }

  /** MATERIALIZE a shallow clone — the op the physical-rewrite refusal
    * names: copy every EXTERNAL entry's bytes under this root (a
    * straight byte copy that PRESERVES the `centroid=K/file` name, so
    * (file, pos)-keyed DV sidecars stay valid without remapping) and
    * commit a new version whose manifest is fully local. External
    * delete-sidecar pointers localize too (copied under this root's
    * `_deletes/` / `_dv/`). After this commit the clone compacts,
    * re-clusters and applies deletes like any native index, and the
    * SOURCE's retention can no longer strand it — the Delta
    * clone-then-materialize pattern. Cost ∝ the inherited bytes, paid
    * once; already-local entries cost nothing (re-listed). Crash-safe
    * like every commit: copies land under deterministic names
    * (overwrite on retry), nothing is visible until the manifest
    * create. Name collisions between an inherited entry and a local
    * one (or two inherited roots) are refused loudly. Returns
    * (nCopied, nAlreadyLocal).
    */
  def localizeClone(spark: org.apache.spark.sql.SparkSession, path: String,
                    fromVersion: Int, toVersion: Int): (Int, Int) = {
    import org.apache.hadoop.fs.{Path => HPath, FileUtil}
    refuseCommitted(spark, path, toVersion)
    val conf = spark.sparkContext.hadoopConfiguration
    val dstFs = new HPath(path).getFileSystem(conf)
    val from = snapshot(spark, path, fromVersion)
    val planned = from.files.map { f =>
      if (isExternal(f)) f -> f.split('/').takeRight(2).mkString("/")
      else f -> f
    }
    val rels = planned.map(_._2)
    require(rels.distinct.length == rels.length,
      s"localizeClone: inherited entries collide on local names under " +
        s"$path — rename at the source or re-cluster instead")
    var copied = 0; var local = 0
    planned.foreach { case (src, rel) =>
      if (src == rel) local += 1
      else {
        val sp = new HPath(src)
        val dp = new HPath(path, rel)
        dstFs.mkdirs(dp.getParent)
        dstFs.delete(dp, false) // crash leftover: toVersion never committed
        require(FileUtil.copy(sp.getFileSystem(conf), sp, dstFs, dp,
          /* deleteSource = */ false, /* overwrite = */ true, conf),
          s"localizeClone: copy of $src failed")
        copied += 1
      }
    }
    // sidecar pointers: external ones copy under this root and remap
    val localized = Seq("deletes" -> "_deletes", "dv" -> "_dv").flatMap {
      case (k, dir) => from.meta.get(k).filter(isExternal).map { rel =>
        val localRel = s"$dir/v$toVersion"
        val sp = new HPath(rel)
        val dp = new HPath(path, localRel)
        dstFs.delete(dp, true) // crash leftover
        require(FileUtil.copy(sp.getFileSystem(conf), sp, dstFs, dp,
          false, true, conf),
          s"localizeClone: sidecar copy of $rel failed")
        k -> localRel
      }
    }
    // the copied files are this commit's new files (enforce-on-write
    // surfaces inherited rows that violate a check registered on the
    // clone)
    commitVersion(spark, from, toVersion, rels.sorted,
      planned.collect { case (src, rel) if src != rel => rel }, Set.empty,
      localized.toMap + ("op" -> "localize"))
    (copied, local)
  }

  /** Publish a branch version back to `main` — the metadata-only merge
    * of the write-audit-publish pattern (Iceberg WAP / Delta shallow
    * clone promotion, public literature): commit, as main's next
    * version, the branch version's file list with the branch's local
    * entries absolutized and any entries already under main's root
    * relativized home. Zero data files move; main's pinned history is
    * untouched; sidecar pointers carry absolutized. Returns the new
    * main HEAD version.
    */
  def promoteVersion(spark: org.apache.spark.sql.SparkSession,
                     branch: String, branchVersion: Int,
                     main: String): Int = {
    val from = snapshot(spark, branch, branchVersion).rootedAt(main)
    val entries = from.files
      .map(f => if (f.startsWith(main + "/")) f.drop(main.length + 1) else f)
    val head = latestVersion(spark, main).getOrElse(
      throw new IllegalStateException(s"no committed version under $main"))
    commitVersion(spark, from, head + 1, entries, Nil, Set.empty,
      Map("op" -> "promote", "promote_source" -> branch,
        "promote_version" -> branchVersion.toString))
    head + 1
  }

  // -------------------------------------- merge-on-read tombstone deletes

  /** Commit a LOGICAL delete: the new version carries `fromVersion`'s
    * file list UNCHANGED plus a tombstone sidecar (`_deletes/v{N}/`, a
    * parquet of deleted ids merged with any tombstones already pending
    * at `fromVersion`). Zero data files are rewritten at commit time —
    * at 100 TB a right-to-be-forgotten request costs one id-sized
    * sidecar write, not a corpus rewrite, which is the only commit cost
    * a deletion SLA can afford (the merge-on-read position delete of
    * Iceberg v2 / Delta deletion vectors — public designs). Readers of
    * this version subtract the sidecar ([[readIndexVersionMor]]);
    * readers pinned to older versions still see the rows — deletes are
    * versioned data like everything else, so audits of "what did the
    * model train on at v1" stay answerable until vacuum.
    */
  def commitDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                    fromVersion: Int, toVersion: Int, ids: DataFrame,
                    meta: Map[String, String] = Map.empty): Unit = {
    refuseCommitted(spark, path, toVersion)
    val from = snapshot(spark, path, fromVersion)
    val pending = from.tombstones(spark)
      .map(d => d.select(col("vid")))
      .getOrElse(spark.emptyDataFrame.select(lit(0L).as("vid")).limit(0))
    // The sidecar directory is named by the version that CREATES it but
    // becomes visible ONLY through the manifest's `deletes` header line
    // — the manifest create below is the single commit point. A crash
    // between the two leaves an UNREFERENCED sidecar that no reader can
    // observe; the retry's overwrite write reclaims it (the
    // errorifexists-then-manifest ordering this replaces wedged the
    // version number permanently on exactly that crash).
    val sidecarRel = writeVersionSidecar(spark, path, "_deletes", toVersion,
      ids.select(col(ids.columns.head).cast("long").as("vid"))
        .union(pending).distinct())
    // op:delete tags the commit for the change feed ([[indexChanges]]):
    // a logical delete's tombstone delta IS its change set. The OTHER
    // carried-state keys (a pending DV, column mappings) ride along —
    // a tombstone delete on top of a DV delete must not resurrect the
    // DV's rows
    commitVersion(spark, from, toVersion, from.files, Nil, Set("deletes"),
      Map("op" -> "delete") ++ meta + ("deletes" -> sidecarRel))
  }

  /** The tombstone sidecar of `version`, if its manifest references one.
    * Resolution is via the `deletes` manifest header — never by probing
    * the `_deletes/` directory: an orphaned sidecar (a crashed or
    * version-race-losing commit attempt) must be invisible, or a later
    * writer landing the same version number would silently inherit
    * someone else's tombstones.
    */
  def readDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                  version: Int): Option[DataFrame] =
    snapshot(spark, path, version).tombstones(spark)

  // ------------------------------------ optimistic-concurrency commits

  /** Result of an OCC commit: the version that landed and how many
    * create attempts it took (1 = no conflict; >1 = the commit raced a
    * concurrent writer and retried against the new HEAD).
    */
  final case class OccCommit(version: Int, attempts: Int)

  /** Commit `newFiles` as a new version on top of the CURRENT head with
    * optimistic concurrency — the Delta/Iceberg OCC protocol (public
    * design: read HEAD, attempt the next version's single-file create,
    * and on losing the race re-read and retry). Appends are always
    * file-DISJOINT with each other (every appender lands its own new
    * files; nobody removes anything), so the conflict resolution is a
    * pure merge: the loser's retry simply stacks its files on the
    * winner's manifest. Two pipelines feeding one index both land; the
    * union is exact. Rewrites (compaction, physical deletes) are NOT
    * routed through this path — they remove files, and a remove/remove
    * or remove/append race needs a conflict CHECK, not a merge
    * ([[rewriteVersioned]] stays single-writer). A stale rewrite is
    * refused with "already committed": it never replaces a file or
    * sidecar named by a committed version ([[land]]), though the files
    * it landed under free names stay behind as unreferenced orphans for
    * the vacuum.
    *
    * A pending tombstone pointer on the head is carried forward
    * automatically: an append commits new rows, it must not resurrect
    * deleted ones. `assumeHead` seeds the FIRST attempt with a stale
    * head (testing hook: it forces the retry path deterministically —
    * q_concurrent_commit); production callers leave it None.
    *
    * Cost per attempt: one `_manifests/` listing + one manifest
    * read/write — metadata-scale, zero data-file I/O, which is what
    * makes retry-on-conflict affordable at any corpus size.
    */
  def commitFilesOcc(spark: org.apache.spark.sql.SparkSession, path: String,
                     newFiles: Seq[String],
                     meta: Map[String, String] = Map.empty,
                     assumeHead: Option[Int] = None,
                     maxAttempts: Int = 10): OccCommit = {
    require(newFiles.nonEmpty, "commitFilesOcc: newFiles must be non-empty")
    // table checks enforce on every APPEND too — validated against the
    // first attempt's head, and RE-validated whenever a conflict-resolved
    // head carries a DIFFERENT `checks` header (ADVICE r12: carrying the
    // new head's header without re-running it would land an append
    // CLAIMING constraints it never enforced). `proven` is the header
    // the staged files were last validated against; re-validation is
    // the rare case (checks are usually absent or unchanged across a
    // conflict), so the common retry stays metadata-priced.
    var proven: Option[Option[String]] = None
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head =
        if (attempt == 1 && assumeHead.isDefined) assumeHead.get
        else latestVersion(spark, path).getOrElse(0)
      // an append leaves every existing file untouched, so the FULL
      // carried state stays valid verbatim: tombstones and DV positions
      // still point at their files, dvcount is unchanged (new files add
      // no deleted positions), and the column mapping must survive or
      // an append to a renamed table would silently reset its schema
      val from =
        if (head == 0) Snapshot(path, 0, Seq.empty, Map.empty)
        else snapshot(spark, path, head)
      val checks = from.meta.get("checks")
      val unproven = if (proven.contains(checks)) Nil else newFiles
      proven = Some(checks)
      try {
        commitVersion(spark, from, head + 1, (from.files ++ newFiles).sorted,
          unproven, Set.empty, meta,
          if (attempt == 1) ""
          else s" (append, post-conflict revalidation, attempt $attempt)")
        return OccCommit(head + 1, attempt)
      } catch {
        case e: java.io.IOException =>
          // conflict iff someone else created this version in the window
          // between our head read and our create — anything else is a
          // real I/O failure and must propagate, not retry
          if (!manifestExists(spark, path, head + 1)) throw e
      }
    }
    throw new IllegalStateException(
      s"OCC commit lost the version race $maxAttempts times under $path")
  }

  /** Idempotent, versioned batch append — the streaming-safe sibling of
    * [[ivfAppend]]: foreachBatch delivery is at-least-once, and the bare
    * `mode("append")` write double-appends on a post-crash replay. Here
    * every physical artifact is keyed by `batchId` and the commit is a
    * batchId-tagged manifest create, so the whole operation is a no-op
    * when replayed:
    *
    *  1. already committed? (`batch` meta in any manifest) → skip;
    *  2. stage the assigned batch under `_staging/batch_{id}/`
    *     (overwrite — a half-written crash leftover is reclaimed);
    *  3. rename into the centroid directories under DETERMINISTIC names
    *     (`centroid=K/batch{id}-{i}.parquet`): un-committed leftovers
    *     from a crashed attempt are overwritten, never duplicated, and
    *     no manifest references them until…
    *  4. …the OCC manifest create commits, carrying `batch:{id}` —
    *     the atomic point after which step 1 short-circuits replays.
    *
    * Returns (committed version, skippedAsReplay). The reference anchor
    * is the at-least-once upsert retry of
    * `utils/upload_data_to_pinecone.py:73-83` — retried delivery with
    * exactly-once EFFECT, which only the idempotent commit provides.
    */
  def ivfAppendBatch(spark: org.apache.spark.sql.SparkSession,
                     batch: DataFrame, centroids: Array[Array[Double]],
                     path: String, idCol: String, vecCol: String,
                     batchId: Long,
                     assumeHead: Option[Int] = None,
                     sink: String = "",
                     extraMeta: Map[String, String] = Map.empty)
      : (Int, Boolean, Int) = {
    require(sink.isEmpty || sink.matches("[A-Za-z0-9_-]+"),
      s"sink name must be filesystem-safe ([A-Za-z0-9_-]+): $sink")
    unlessReplayed(spark, path, sink, batchId)((_, true, 0)) { batchMeta =>
      // staging dirs and data-file names are sink-qualified: two append
      // streams on one index share batchIds by construction, and the
      // deterministic names exist to make a REPLAY of the same
      // (sink, batchId) overwrite its own crash leftovers — never a
      // sibling stream's committed files. The replay guard has already
      // proven this batch uncommitted, so any leftover is un-committed
      val tag = if (sink.isEmpty) s"$batchId" else s"$sink-$batchId"
      val newFiles = landAssigned(spark, path, batch, centroids, idCol,
        vecCol, s"_staging/batch_$tag", s"batch$tag", None)
      val c = commitFilesOcc(spark, path, newFiles,
        extraMeta ++ batchMeta + ("op" -> "append"), assumeHead)
      (c.version, false, c.attempts)
    }
  }

  /** The replay guard of the streaming batch writers ([[ivfAppendBatch]],
    * [[commitDeletesBatch]], [[ivfUpsertBatch]]): a (sink, batchId)
    * already in a committed manifest is a redelivery — answered by
    * `replayed(head)` with nothing written. Otherwise `commit` runs with
    * the batch headers its commit must carry: `batch`, and `sink` when
    * the sink is named.
    */
  private def unlessReplayed[T](spark: org.apache.spark.sql.SparkSession,
                                path: String, sink: String, batchId: Long)
                               (replayed: Int => T)
                               (commit: Map[String, String] => T): T =
    if (committedBatchKeys(spark, path).contains(batchKey(sink, batchId)))
      replayed(latestVersion(spark, path).get)
    else commit(Map("batch" -> batchId.toString) ++
      (if (sink.isEmpty) Map.empty[String, String] else Map("sink" -> sink)))

  /** Idempotent streaming delete commit — [[commitDeletes]] keyed by
    * `batchId` with the same replay contract as [[ivfAppendBatch]]: an
    * already-committed batch id short-circuits, a crash after the
    * sidecar write but before the manifest create leaves only an
    * unreferenced sidecar the retry overwrites. Version numbers come
    * from HEAD at commit time (foreachBatch bodies run sequentially on
    * the stream thread, so delete commits never race each other).
    * Returns (committed version, skippedAsReplay).
    */
  def commitDeletesBatch(spark: org.apache.spark.sql.SparkSession,
                         path: String, batchId: Long,
                         ids: DataFrame, sink: String = "",
                         extraMeta: Map[String, String] = Map.empty)
      : (Int, Boolean) =
    unlessReplayed(spark, path, sink, batchId)((_, true)) { batchMeta =>
      val head = latestVersion(spark, path).getOrElse(
        throw new IllegalStateException(
          s"streaming deletes need an initial committed version under $path"))
      commitDeletes(spark, path, head, head + 1, ids, extraMeta ++ batchMeta)
      (head + 1, false)
    }

  /** Merge-on-read: the pinned version's files minus its tombstones —
    * a left-anti join on the id column (tombstone sets are
    * id-sized, orders of magnitude under the corpus; at the point they
    * rival the corpus the physical [[applyDeletes]] is overdue anyway).
    * A version with no sidecar reads exactly as [[readIndexVersion]].
    */
  def readIndexVersionMor(spark: org.apache.spark.sql.SparkSession,
                          path: String, version: Int,
                          idCol: String): DataFrame = {
    val snap = snapshot(spark, path, version)
    withoutTombstones(spark, snap, scan(spark, snap, snap.files), idCol)
  }

  /** Apply pending deletes of BOTH kinds PHYSICALLY — id tombstones and
    * deletion-vector positions: rewrite only the partitions that
    * actually hold doomed rows (tombstone partitions from one id-sized
    * semi-join aggregate; DV partitions straight from the sidecar's
    * file names), land the filtered files beside the old ones, and
    * commit `toVersion` with every delete sidecar folded in and
    * dropped. Cost ∝ the affected partitions' bytes — a delete touching
    * 3 of 10k partitions rewrites 3. Old versions keep serving until
    * [[ivfVacuum]]; the new version needs no subtraction of any kind at
    * read time. Column mappings (`colmap`/`coldrop`) carry forward —
    * purging rows must not reset DDL. Returns
    * (partitionsRewritten, rowsDeleted) with rowsDeleted the EXACT
    * physical row delta of the rewritten partitions (footer counts
    * before vs after — metadata-priced, double-count-proof when one row
    * is doomed by both kinds).
    */
  def applyDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                   fromVersion: Int, toVersion: Int,
                   idCol: String): (Int, Long) = {
    val from = snapshot(spark, path, fromVersion)
    val delsOpt = from.tombstones(spark)
    if (delsOpt.isEmpty && !from.meta.contains("dv")) {
      // nothing pending: pure metadata
      commitVersion(spark, from, toVersion, from.files, Nil,
        Set("deletes", "dv", "dvcount"), Map("op" -> "apply"))
      return (0, 0L)
    }
    val tombParts: Set[String] = delsOpt match {
      case None => Set.empty
      case Some(d) =>
        // which partitions hold tombstoned rows — over the PHYSICAL
        // read (a doomed row is on disk even when a DV already hides it)
        val delSet = d.select(col("vid").as(idCol))
        scan(spark, from, from.files)
          .join(delSet, Seq(idCol), "left_semi")
          .select(col("centroid")).distinct()
          .collect().map(r => s"centroid=${r.get(0)}").toSet
    }
    val dvParts: Set[String] = from.deletionVector(spark) match {
      case None => Set.empty
      case Some(dv) => dv
        .select(substring_index(col("file"), "/", 1).as("p"))
        .distinct().collect().map(_.getString(0)).toSet
    }
    val hot = tombParts ++ dvParts
    val tombApply: DataFrame => DataFrame = delsOpt match {
      case None => identity
      case Some(d) =>
        val delSet = d.select(col("vid").as(idCol))
        df => df.join(delSet, Seq(idCol), "left_anti")
    }
    val nBefore = footerCounts(spark, path,
      from.files.filter(f => hot(partOf(f)))).values.sum
    // every delete sidecar is FOLDED IN here — the new version must not
    // carry a pointer forward or the subtraction would run twice (hot
    // covers every DV partition, so consuming `dv` asserts that the
    // split applies every position and carries none). op:apply marks
    // the commit dataChange-free for the change feed: these rows were
    // reported deleted when the LOGICAL commit landed; the physical
    // purge must not report them twice
    val groups = partitionGroups(from, toVersion, "deleted")((p, _) => hot(p))
    val committed = rewriteVersioned(spark, from, toVersion, groups, Nil,
      Set("deletes", "dv"), Map("op" -> "apply"))(tombApply)
    val nAfter = footerCounts(spark, path,
      committed.filter(f => hot(partOf(f)))).values.sum
    (groups.length, nBefore - nAfter)
  }

  /** The partition of a root-relative manifest entry
    * (`centroid=K/file` → `centroid=K`). */
  private def partOf(entry: String): String = entry.takeWhile(_ != '/')

  /** The partitions of `from` that `select` picks, as rewrite groups
    * for [[rewriteVersioned]]: each partition's files land as one
    * `part/tag-v{toVersion}.parquet`. */
  private def partitionGroups(from: Snapshot, toVersion: Int, tag: String)
                             (select: (String, Seq[String]) => Boolean)
      : Seq[(Seq[String], String)] =
    from.files.groupBy(partOf).toSeq.sortBy(_._1).collect {
      case (part, files) if select(part, files) =>
        files -> s"$part/$tag-v$toVersion.parquet"
    }

  /** The one rewrite every file-replacing writer ([[ivfCompactVersioned]],
    * [[ivfCompactSmall]], [[applyDeletes]], [[ivfUpsert]], [[ivfMerge]])
    * delegates to. Each group — a partition or a binpack bin — is a
    * set of `from`'s files and the deterministic name they rewrite to:
    * one coalesce(1) of `transform` over exactly those files (read
    * WITHOUT basePath: the new file must not embed the partition column
    * the directory encodes), [[land]]ed BESIDE the old files so data
    * stays immutable and pinned readers are undisturbed. `from`'s
    * deletion vector splits across the rewrite first
    * ([[splitDvForRewrite]]): the positions in rewritten files are
    * applied inside the groups that hold them, the rest re-land; a
    * writer that `consumes` `dv` asserts that nothing is left to carry.
    * Every file no group names is re-listed untouched, `extraFiles`
    * (already-landed files: the upsert's and merge's new rows) commit
    * ATOMICALLY with the rewrite — replace-old and insert-new must be
    * one version or a reader between them sees the id vanish — and the
    * whole list commits as `toVersion` ([[commitVersion]], which
    * validates exactly the files created here). Returns the committed
    * file list.
    */
  private def rewriteVersioned(spark: org.apache.spark.sql.SparkSession,
                               from: Snapshot, toVersion: Int,
                               groups: Seq[(Seq[String], String)],
                               extraFiles: Seq[String],
                               consumes: Set[String],
                               headers: Map[String, String])
                              (transform: DataFrame => DataFrame)
      : Seq[String] = {
    val path = from.path
    requireLocalEntries(from.files, s"rewrite to v$toVersion")
    val inputs = groups.flatMap(_._1).toSet
    val (dvMeta, dvFiles, dvApply) =
      splitDvForRewrite(spark, from, toVersion, inputs)
    require(!consumes("dv") || dvMeta.isEmpty,
      s"rewrite to v$toVersion: DV entries survived a full apply: $dvMeta")
    val written = groups.zipWithIndex.flatMap { case ((files, dst), i) =>
      // mergeSchema: a group may mix pre- and post-evolution files
      // (q_schema_evolution's exact layout) — without the merge,
      // rewriting it silently DROPS the evolved column from the rows
      // whose files carried it
      val base = Tables.parquet(spark, files.map(f => s"$path/$f"),
        Map("mergeSchema" -> "true"))
      land(spark, path, s"_rewrite_tmp/g$i", Some(toVersion),
        transform(if (files.exists(dvFiles)) dvApply(base) else base)
          .coalesce(1).write)((_, _) => dst)
    }
    val tmp = new org.apache.hadoop.fs.Path(path, "_rewrite_tmp")
    tmp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tmp, true)
    val committed =
      (from.files.filterNot(inputs) ++ written ++ extraFiles).sorted
    commitVersion(spark, from, toVersion, committed, written ++ extraFiles,
      consumes ++ Set("dv", "dvcount"), dvMeta ++ headers)
    committed
  }

  /** Versioned in-place compaction: coalesce every partition that
    * `fromVersion` holds more than one file in, land the NEW file beside
    * the old ones (data files are immutable — nothing is overwritten,
    * readers pinned to `fromVersion` are undisturbed), and commit
    * `toVersion` as (untouched singletons + compacted files). The
    * pre-compaction multi-files stay on disk, referenced only by older
    * manifests, until [[ivfVacuum]] reclaims them — the write-new,
    * commit, THEN reclaim ordering is what makes compaction safe under
    * concurrent readers on a store with no atomic rename. Cost ∝ the hot
    * partitions' bytes (one coalesced job each); singleton partitions
    * cost nothing at all — not even a copy, their existing file is
    * simply re-listed. Returns (partitionsRewritten, filesFrom, filesTo).
    */
  def ivfCompactVersioned(spark: org.apache.spark.sql.SparkSession,
                          path: String, fromVersion: Int,
                          toVersion: Int): (Int, Int, Int) = {
    // compaction moves bytes, not meaning: the FULL carried state rides
    // the new manifest — pending tombstones keep subtracting (id-keyed,
    // rewrite-proof) and column mappings survive. DV entries are keyed
    // by (file, pos), which a rewrite breaks; they are APPLIED
    // physically inside the partitions being rewritten (the Delta
    // OPTIMIZE behavior — purging already-reported-deleted rows is
    // dataChange-free) and the remaining entries re-land via the split.
    // op:compact marks the commit dataChange-free: the change feed must
    // stay silent across it (the Delta CDF design)
    val from = snapshot(spark, path, fromVersion)
    val groups = partitionGroups(from, toVersion, "compacted")(
      (_, files) => files.length > 1)
    val committed = rewriteVersioned(spark, from, toVersion, groups, Nil,
      Set.empty, Map("op" -> "compact"))(identity)
    (groups.length, from.files.length, committed.length)
  }

  /** Size-aware OPTIMIZE: binpack only the SMALL files — the nightly
    * maintenance job every lakehouse runs (Delta OPTIMIZE / Iceberg
    * binpack rewrite, public design). [[ivfCompactVersioned]] coalesces
    * every multi-file partition unconditionally; at 100 TB that
    * re-copies right-sized files forever. Here, per partition, files
    * under `targetBytes` greedily pack first-fit-decreasing into bins
    * capped at `targetBytes` (sizes from file-status metadata — no data
    * read to plan); only bins holding ≥ 2 files rewrite (one coalesced
    * file each), every file ≥ target and every singleton bin is
    * RE-LISTED untouched — zero I/O for the data that is already right.
    * Same snapshot discipline as every rewrite ([[rewriteVersioned]]):
    * new files land beside the old, one manifest create commits, pinned
    * readers undisturbed, tombstone pointer carried, DV positions of
    * packed files applied while packing, op:compact dataChange-free in
    * the feed. Returns (binsRewritten, filesFrom, filesTo,
    * maxBinInputBytes).
    */
  def ivfCompactSmall(spark: org.apache.spark.sql.SparkSession,
                      path: String, fromVersion: Int, toVersion: Int,
                      targetBytes: Long): (Int, Int, Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(targetBytes > 0, "ivfCompactSmall: targetBytes must be > 0")
    refuseCommitted(spark, path, toVersion)
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val from = snapshot(spark, path, fromVersion)
    val sizes = from.files.map(f =>
      f -> fs.getFileStatus(new HPath(path, f)).getLen).toMap
    // plan (file sizes only): per partition, files under the target pack
    // first-fit-decreasing into targetBytes-capped bins; a bin of one
    // file has nothing to gain and re-lists. Bins are numbered within
    // their partition, singletons included
    val bins = from.files.groupBy(partOf).toSeq.sortBy(_._1).flatMap {
      case (part, files) =>
        val packed = scala.collection.mutable.ArrayBuffer[(Seq[String], Long)]()
        files.filter(f => sizes(f) < targetBytes).sortBy(f => -sizes(f))
          .foreach { f =>
            val i = packed.indexWhere(_._2 + sizes(f) <= targetBytes)
            if (i < 0) packed += ((Seq(f), sizes(f)))
            else packed(i) = (packed(i)._1 :+ f, packed(i)._2 + sizes(f))
          }
        packed.zipWithIndex.collect { case ((binFiles, bytes), i)
            if binFiles.length >= 2 =>
          (binFiles, s"$part/binpack$i-v$toVersion.parquet", bytes)
        }
    }
    val committed = rewriteVersioned(spark, from, toVersion,
      bins.map(b => b._1 -> b._2), Nil, Set.empty,
      Map("op" -> "compact"))(identity)
    (bins.length, from.files.length, committed.length,
      bins.map(_._3).foldLeft(0L)(math.max))
  }

  /** [[readIndexVersion]] with parquet schema merging: the pinned
    * version's files may carry DIFFERENT schemas (a later append added a
    * column; older files predate it) and the merged read unions them,
    * nulling the missing column on old rows — the backfill-free column
    * add of q_schema_evolution. Merging costs a footer read per file on
    * the first read of a file set (metadata-scale, the same class as
    * the fsck audit; [[Tables.parquet]] remembers the merged schema),
    * which is why it is a separate entry point and not the default: a
    * reader that knows its version is schema-uniform should not pay it.
    */
  def readIndexVersionMerged(spark: org.apache.spark.sql.SparkSession,
                             path: String, version: Int): DataFrame = {
    val files = readManifest(spark, path, version).map(f => s"$path/$f")
    Tables.parquet(spark, files,
      Map("basePath" -> path, "mergeSchema" -> "true"))
  }

  // -------------------------------------------- servability audit (fsck)

  /** Values `pull` takes from the parquet FOOTER of each of `files`
    * (entries of the index at `path`): one metadata read per file,
    * executor-side (the file list rides an RDD — genuine per-partition
    * imperative I/O, the one place RDDs earn their keep — and the Hadoop
    * conf travels as a broadcast so object-store credentials aren't
    * silently rebuilt from defaults). A file whose footer fails to open
    * or parse maps to `broken` instead of throwing: a torn file is a
    * VERDICT, not a crash. No data pages are read — at 100 TB a harvest
    * costs one footer round-trip per file, embarrassingly parallel.
    */
  private def harvestFooters[T](spark: org.apache.spark.sql.SparkSession,
                                path: String, files: Seq[String], broken: T)
                               (pull: org.apache.parquet.hadoop.ParquetFileReader => T)
      : Map[String, T] = {
    if (files.isEmpty) return Map.empty
    val confGet = GraftShim.hadoopConfAccessor(spark.sparkContext)
    spark.sparkContext
      .parallelize(files.map(f => (f, resolveRel(path, f))),
        math.min(files.length, 32))
      .map { case (f, p) =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val v =
          try {
            val r = ParquetFileReader.open(HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p), confGet()))
            try pull(r) finally r.close()
          } catch { case scala.util.control.NonFatal(_) => broken }
        (f, v)
      }
      .collect().toMap // one value per file — metadata-scale
  }

  /** Footer row counts per file, -1 for an unreadable footer. */
  private def footerCounts(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           files: Seq[String]): Map[String, Long] =
    harvestFooters(spark, path, files, -1L)(_.getRecordCount)

  /** Commit-time integrity stats: `_manifests/v{N}.stats`, one
    * `relpath<TAB>rows` line per manifest file, from a footer-only scan.
    * Same commit discipline as manifests (single-file create, duplicate
    * version refused), and a commit of a torn file fails HERE — the
    * stats write is the last moment corruption is cheap to catch.
    */
  def writeStats(spark: org.apache.spark.sql.SparkSession, path: String,
                 version: Int): Unit = {
    val files = readManifest(spark, path, version)
    val counts = footerCounts(spark, path, files)
    files.foreach(f => require(counts.getOrElse(f, -1L) >= 0L,
      s"unreadable footer at commit time: $f"))
    // same atomic publish as manifests: a reader must never see a
    // half-written stats sidecar (fsck would report phantom corruption)
    commitSidecar(spark, path, f"v$version%05d.stats",
      files.map(f => s"$f\t${counts(f)}"), s"stats v$version")
  }

  /** The commit-time stats of `version` — loud on a missing sidecar,
    * like [[readManifest]]. */
  def readStats(spark: org.apache.spark.sql.SparkSession, path: String,
                version: Int): Map[String, Long] =
    fileLines(spark, new org.apache.hadoop.fs.Path(path,
        f"_manifests/v$version%05d.stats"))
      .map { l => val i = l.lastIndexOf('\t'); l.take(i) -> l.drop(i + 1).toLong }
      .toMap

  /** Servability audit of a pinned version — the check that runs BEFORE
    * production traffic repins: (present) every manifest file still
    * exists; (intact) every present file's footer row count equals the
    * commit-time stats, with unreadable footers counting as corrupt,
    * never as a crash. Footer-only: no data page is read at any scale.
    * Returns (allPresent, allIntact, nFiles, totalRows) where totalRows
    * sums the readable footers — equal to the source row count when the
    * audit passes (q_index_fsck pins that equality to the oracle).
    */
  def indexFsck(spark: org.apache.spark.sql.SparkSession, path: String,
                version: Int): (Boolean, Boolean, Int, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = readManifest(spark, path, version)
    val stats = readStats(spark, path, version)
    val present = files.filter(f => fs.exists(new HPath(path, f)))
    val allPresent = present.length == files.length
    val counts = footerCounts(spark, path, present)
    val allIntact = allPresent && files.forall(f =>
      counts.get(f).exists(n => n >= 0 && stats.get(f).contains(n)))
    (allPresent, allIntact, files.length,
      counts.values.filter(_ >= 0).sum)
  }

  /** Reclaim data files no kept manifest references — the step that
    * makes a versioned layout sustainable: without it, every compaction
    * and append retains its superseded files forever. The referenced set
    * is the union of the kept manifests' lists (metadata-scale driver
    * work); everything else under the `centroid=` directories is deleted.
    * Manifests themselves and non-data files are never touched, and an
    * empty keep set is refused — "vacuum everything" must be impossible
    * to express. Returns (deleted, kept). After a vacuum, unkept
    * versions are gone by design: [[readIndexVersion]] on them fails
    * loudly at scan time rather than returning partial data silently
    * (parquet errors on the missing files).
    *
    * CONCURRENCY CONTRACT: with `minAgeMs` = 0 the caller asserts NO
    * writer is mid-append — a concurrent appender's freshly-landed but
    * not-yet-committed files are unreferenced by every manifest and
    * would be deleted out from under its commit. A deployment with
    * concurrent appenders ([[commitFilesOcc]]) must pass a retention
    * window comfortably above its longest land-to-commit gap (the
    * Delta/Iceberg vacuum retention design): files whose modification
    * time is within `minAgeMs` of now survive even when unreferenced.
    */
  def ivfVacuum(spark: org.apache.spark.sql.SparkSession, path: String,
                keepVersions: Seq[Int], minAgeMs: Long = 0L): (Int, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (orphans, nKept) = vacuumPlan(spark, path, keepVersions, minAgeMs)
    orphans.foreach(f => fs.delete(new HPath(path, f), false))
    (orphans.length, nKept)
  }

  /** DRY RUN of [[ivfVacuum]]: the exact file list a vacuum with these
    * arguments would delete, and the count it would keep — nothing is
    * touched. `VACUUM ... DRY RUN` is the first command every operator
    * runs before the real one (the Delta contract, public), because
    * vacuum is the single irreversible operation in the layout: a wrong
    * retention window here is the only way to destroy committed data.
    * Same resolution cost as the vacuum itself minus the deletes: one
    * directory walk + the kept manifests (metadata-scale).
    */
  def vacuumPlan(spark: org.apache.spark.sql.SparkSession, path: String,
                 keepVersions: Seq[Int], minAgeMs: Long = 0L)
      : (Seq[String], Int) = {
    require(keepVersions.nonEmpty, "vacuum: keepVersions must be non-empty")
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val referenced = keepVersions
      .flatMap(v => readManifest(spark, path, v)).toSet
    val all = listIndexFiles(spark, path)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = all.filterNot(referenced).filter(f =>
      minAgeMs <= 0L ||
        fs.getFileStatus(new HPath(path, f)).getModificationTime <= cutoff)
    (orphans, all.length - orphans.length)
  }

  /** Commit-LOG retention — the metadata sibling of [[ivfVacuum]]:
    * without it every manifest, stats/colstats sidecar, tombstone
    * sidecar and staging leftover lives forever, and a
    * commit-per-minute stream grows the log without bound. Deletes the
    * manifests and sidecars of versions NOT in `keepVersions`, tombstone
    * sidecars no kept manifest's `deletes` pointer references, and
    * `_staging/` leftovers older than `minAgeMs` (a crashed append's
    * stage dir that its batch never reclaimed).
    *
    * THE REPLAY-SAFETY SUBTLETY this function exists to get right:
    * batch ids live in manifest headers, so dropping old manifests
    * would FORGET them — a very late redelivery of an ancient batch id
    * (a stream recovered from a weeks-old checkpoint) would then
    * double-append. Before deleting anything, the accumulated batch-id
    * set is checkpointed at the newest kept version
    * ([[writeBatchIdCheckpoint]] — idempotent if already present), so
    * [[committedBatchIds]] keeps answering for the dropped history
    * forever (the Delta log-retention + checkpoint design). Dropped
    * versions stop being time-travelable by design; reads of them fail
    * loudly at manifest resolution. Returns (filesDeleted, filesKept)
    * over the `_manifests`/`_deletes`/`_dv`/`_staging` trees.
    */
  def vacuumLog(spark: org.apache.spark.sql.SparkSession, path: String,
                keepVersions: Seq[Int], minAgeMs: Long = 0L): (Int, Int) = {
    require(keepVersions.nonEmpty, "vacuumLog: keepVersions must be non-empty")
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val all = listVersions(spark, path)
    keepVersions.foreach(v => require(all.contains(v),
      s"vacuumLog: version $v is not committed under $path"))
    // replay-safety first: persist the full batch-id history at the
    // newest kept version BEFORE any manifest is dropped
    writeBatchIdCheckpoint(spark, path, keepVersions.max)
    val keep = keepVersions.toSet
    val keptDeleteRels = keepVersions.flatMap(v =>
      readManifestMeta(spark, path, v).get("deletes")).toSet
    // local DV sidecars still referenced by a kept manifest; external
    // (clone-inherited) pointers live under the SOURCE root and are not
    // this root's business, same as external data files
    val keptDvRels = keepVersions.flatMap(v =>
      readManifestMeta(spark, path, v).get("dv")).toSet
    var deleted = 0; var kept = 0
    // manifests + per-version sidecars — every v-prefixed sidecar kind
    // this engine writes (missing one here is a slow log leak: the
    // strstats/ndv/termstats sidecars of dropped versions lived forever
    // before r12)
    val mdir = new HPath(path, "_manifests")
    val tmpCutoff = System.currentTimeMillis() - minAgeMs
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
      val n = st.getPath.getName
      val vOpt = ("^v(\\d+)\\.(manifest|stats|colstats|strstats|batchids|" +
          "termstats|bloom\\.[a-zA-Z0-9_]+|ndv\\.[a-zA-Z0-9_]+)$").r
        .findFirstMatchIn(n).map(_.group(1).toInt)
      vOpt match {
        case Some(v) if !keep.contains(v) &&
            !(n.endsWith(".batchids") && v == keepVersions.max) =>
          fs.delete(st.getPath, false); deleted += 1
        case Some(_) => kept += 1
        case None if n.startsWith(".tmp-") =>
          // an atomicCreate crashed between its temp write and publish:
          // nothing references the temp and no reader can observe it, so
          // without this sweep it lives forever on a long-lived index.
          // Age-gated like _staging: a temp YOUNGER than minAgeMs may be
          // a concurrent committer mid-publish
          if (minAgeMs <= 0L || st.getModificationTime <= tmpCutoff) {
            fs.delete(st.getPath, false); deleted += 1
          } else kept += 1
        case None => kept += 1 // unrecognized files — not this tool's business
      }
    }
    // tombstone sidecars: only those a kept manifest still points at stay
    val ddir = new HPath(path, "_deletes")
    if (fs.exists(ddir)) fs.listStatus(ddir).foreach { st =>
      val rel = s"_deletes/${st.getPath.getName}"
      if (keptDeleteRels.contains(rel)) kept += 1
      else { fs.delete(st.getPath, true); deleted += 1 }
    }
    // deletion-vector sidecars: same kept-pointer rule (before r12 the
    // _dv/ dirs of dropped versions were never reclaimed)
    val dvdir = new HPath(path, "_dv")
    if (fs.exists(dvdir)) fs.listStatus(dvdir).foreach { st =>
      val rel = s"_dv/${st.getPath.getName}"
      if (keptDvRels.contains(rel)) kept += 1
      else { fs.delete(st.getPath, true); deleted += 1 }
    }
    // staging leftovers from crashed, never-recovered appends
    val sdir = new HPath(path, "_staging")
    val cutoff = System.currentTimeMillis() - minAgeMs
    if (fs.exists(sdir)) fs.listStatus(sdir).foreach { st =>
      if (minAgeMs <= 0L || st.getModificationTime <= cutoff) {
        fs.delete(st.getPath, true); deleted += 1
      } else kept += 1
    }
    (deleted, kept)
  }

  /** ADC (asymmetric distance computation) top-k over an encoded corpus:
    * the query is NOT quantized — its per-subspace distances to every
    * centroid form an M×K lookup table (driver-computed, broadcast as a
    * literal), and each stored vector's approximate distance is M table
    * lookups summed from its codes. The scan touches only the code
    * column: at serving scale that is bytes per vector, not the float
    * corpus. Returns `(vid, adc)` for the k best (adc asc, vid asc).
    */
  def pqAdcTopK(codes: DataFrame, model: PqModel, query: Seq[Float],
                k: Int): DataFrame = {
    val q = query.map(_.toDouble).toArray
    val table: Seq[Seq[Double]] = (0 until model.m).map { mi =>
      model.centroids(mi).map { c =>
        var d = 0.0; var j = 0
        while (j < model.dsub) {
          val t = q(mi * model.dsub + j) - c(j); d += t * t; j += 1
        }
        d
      }.toSeq
    }
    codes.select(col("vid"),
        GraftShim.column(graft.expr.PqAdc(
          GraftShim.expression(col("codes")), table)).as("adc"))
      .orderBy(col("adc").asc, col("vid").asc)
      .limit(k)
  }

  // ------------------------------------------------ copy-on-write upsert

  /** [[land]] `df` assigned under the frozen coarse quantizer,
    * partitioned by `centroid`, as `centroid=K/{prefix}-{i}.parquet` —
    * the landing of every writer that adds vectors ([[ivfAppendBatch]],
    * [[ivfUpsert]], [[ivfMerge]]). Returns the landed relpaths in
    * partition-then-index order.
    */
  private def landAssigned(spark: org.apache.spark.sql.SparkSession,
                           path: String, df: DataFrame,
                           centroids: Array[Array[Double]],
                           idCol: String, vecCol: String, stageRel: String,
                           prefix: String,
                           toVersion: Option[Int]): Seq[String] =
    land(spark, path, stageRel, toVersion,
      df.select(col(idCol), col(vecCol),
          ivfAssign(col(vecCol), centroids).as("centroid"))
        .write.partitionBy("centroid"))(
      (dir, i) => s"$dir/$prefix-$i.parquet")

  /** The copy-on-write tail of [[ivfUpsert]] and [[ivfMerge]], one
    * commit of `toVersion` from `from`: the hot partitions — those
    * PHYSICALLY holding a `touched` id (a tombstoned row being
    * re-inserted is invisible but on disk, and its stale bytes must go)
    * — are rewritten without the touched ids, `landed` (the staged
    * insert/update rows) commits in the same version, and pending
    * tombstones carry forward MINUS the `reinserted` ids (an upsert of a
    * tombstoned id resurrects it by intent: the new row must not be
    * subtracted). A pending DV splits across the rewrite; column
    * mappings and checks ride verbatim. Returns the partitions
    * rewritten.
    */
  private def copyOnWrite(spark: org.apache.spark.sql.SparkSession,
                          from: Snapshot, toVersion: Int, op: String,
                          tag: String, touched: DataFrame,
                          reinserted: DataFrame, idCol: String,
                          landed: Seq[String],
                          extraMeta: Map[String, String]): Int = {
    // one batch-sized semi-join aggregate over the PHYSICAL read
    val hot = scan(spark, from, from.files)
      .join(touched, Seq(idCol), "left_semi")
      .groupBy(col("centroid")).agg(count(lit(1)).as("n"))
      .collect().map(r => s"centroid=${r.get(0)}").toSet
    val tombstones = from.tombstones(spark).flatMap { d =>
      val kept = d.select(col("vid"))
        .join(reinserted.select(col(idCol).as("vid")), Seq("vid"), "left_anti")
      if (kept.isEmpty) None
      else Some("deletes" ->
        writeVersionSidecar(spark, from.path, "_deletes", toVersion, kept))
    }
    val groups = partitionGroups(from, toVersion, tag)((p, _) => hot(p))
    rewriteVersioned(spark, from, toVersion, groups, landed, Set("deletes"),
      Map("op" -> op) ++ tombstones ++ extraMeta)(
      _.join(touched, Seq(idCol), "left_anti"))
    groups.length
  }

  /** Row-level upsert as ONE atomic commit — the reference's own
    * operation (`utils/upload_data_to_pinecone.py:60-83` upserts
    * re-embedded rows by id): rows in `updates` REPLACE existing rows
    * with the same id and INSERT where the id is new. Copy-on-write (the
    * Delta MERGE shape): the update batch is assigned under the frozen
    * coarse quantizer and landed as new files; only the partitions that
    * actually hold a replaced id are rewritten (filtered through an
    * anti-join on the id set — the id set is batch-sized, never
    * corpus-sized); every other file is re-listed untouched. The
    * manifest create commits replace-old and insert-new TOGETHER — no
    * reader can observe the id missing, which is why this cannot be
    * composed from a delete commit followed by an append commit.
    *
    * Pending tombstones at `fromVersion` carry forward MINUS the
    * upserted ids: an upsert of a tombstoned id resurrects it by intent
    * (the new row must not be subtracted by the old tombstone).
    *
    * Rewrites remove files, so like [[ivfCompactVersioned]] this path is
    * single-writer by design — a concurrent upsert/append race needs a
    * conflict CHECK ([[commitFilesOcc]] documents the split). A stale
    * upsert whose `toVersion` another writer committed first is refused
    * with "already committed" and leaves that version untouched: it never
    * replaces a file or sidecar the committed version names ([[land]]).
    * Cost: the batch's bytes + the hot partitions' bytes; a batch of
    * brand-new ids rewrites nothing and degenerates to a pure append.
    *
    * Returns (partitionsRewritten, nReplaced, nStaged): `nReplaced` is
    * the count of VISIBLE rows superseded; `nStaged` is the TOTAL staged
    * batch row count (replaced + inserted, from the staged files'
    * footers) — true inserts are `nStaged - nReplaced`. q_index_upsert
    * gates nStaged against n_upd + n_new.
    */
  def ivfUpsert(spark: org.apache.spark.sql.SparkSession, path: String,
                fromVersion: Int, toVersion: Int, updates: DataFrame,
                centroids: Array[Array[Double]], idCol: String,
                vecCol: String,
                extraMeta: Map[String, String] = Map.empty)
      : (Int, Long, Long) = {
    val from = snapshot(spark, path, fromVersion)
    // land the assigned batch under deterministic upsert-tagged names
    // (nothing is visible until the manifest commits)
    val newFiles = landAssigned(spark, path, updates, centroids, idCol,
      vecCol, s"_staging/upsert_$toVersion", s"upsert$toVersion",
      Some(toVersion))
    // everything downstream reads the STAGED bytes, not the caller's
    // plan: `updates` may be an arbitrarily expensive computation (a
    // re-embedding join, a streaming micro-batch) and is consumed exactly
    // once — by the staging write above. The row count comes from the
    // staged files' footers (metadata-priced).
    val upIds =
      if (newFiles.isEmpty) // empty batch: a no-change commit, not a crash
        spark.range(0).select(col("id").cast("long").as(idCol))
      else readFiles(spark, path, newFiles)
        .select(col(idCol).cast("long").as(idCol)).distinct()
    // TOTAL staged rows (replaced + inserted) — not just true inserts;
    // see the Scaladoc's return contract
    val nStaged =
      if (newFiles.isEmpty) 0L
      else footerCounts(spark, path, newFiles).values.sum
    // replaced = VISIBLE rows superseded (the caller-facing number;
    // purging a stale tombstoned or DV-deleted row is hygiene, not a
    // replacement) — visibility applies BOTH delete kinds
    val nReplaced = visible(spark, from, idCol)
      .join(upIds, Seq(idCol), "left_semi").count()
    val rewritten = copyOnWrite(spark, from, toVersion, "upsert", "upserted",
      upIds, upIds, idCol, newFiles, extraMeta)
    (rewritten, nReplaced, nStaged)
  }

  /** Idempotent, versioned streaming UPSERT — [[ivfUpsert]] keyed by
    * `batchId` with the replay contract of [[ivfAppendBatch]]: an
    * already-committed batch id short-circuits (foreachBatch delivery is
    * at-least-once; a replayed upsert must not re-rewrite partitions or
    * double-land its rows). Versions come from HEAD at commit time —
    * upserts REWRITE files, so this path is strictly single-writer
    * ([[commitFilesOcc]] documents the append/rewrite split), which a
    * foreachBatch sink satisfies by construction: micro-batch bodies run
    * sequentially on the stream thread. This is the reference's own
    * production loop — `utils/upload_data_to_pinecone.py:60-83` streams
    * re-embedded rows as retried (at-least-once) upserts — landed with
    * exactly-once EFFECT. Returns (version, skippedAsReplay, nReplaced).
    */
  def ivfUpsertBatch(spark: org.apache.spark.sql.SparkSession,
                     batch: DataFrame, centroids: Array[Array[Double]],
                     path: String, idCol: String, vecCol: String,
                     batchId: Long, sink: String = "",
                     extraMeta: Map[String, String] = Map.empty)
      : (Int, Boolean, Long) =
    unlessReplayed(spark, path, sink, batchId)((_, true, 0L)) { batchMeta =>
      val head = latestVersion(spark, path).getOrElse(
        throw new IllegalStateException(
          s"streaming upserts need an initial committed version under $path"))
      val (_, nReplaced, _) = ivfUpsert(spark, path, head, head + 1, batch,
        centroids, idCol, vecCol, extraMeta = extraMeta ++ batchMeta)
      (head + 1, false, nReplaced)
    }

  // ------------------------------------------------- change feed (CDC)

  /** The change feed between two committed versions — one row per
    * changed id per commit, `(version, vid, change_type)` with
    * change_type ∈ insert | update | delete (the Delta Change Data Feed
    * contract, public design). Cost ∝ the CHANGED bytes, never the
    * corpus: each step reads only the files its commit added or removed
    * (id-sized tombstone sidecars beside them); a downstream consumer —
    * a re-embedding queue, a cache invalidator, an incremental
    * materialization — pays for what changed, which is the only cost
    * model that works on a 100 TB index taking small daily commits.
    *
    * Per step the diff is CONTENT-level, not id-level: rows identical on
    * (id, vector) in removed and re-added files cancel in the two
    * `exceptAll`s, so a partition rewrite that carries a row through
    * unchanged (the upsert rewriting a hot partition's untouched
    * neighbors) reports nothing for it, while an id present on both
    * sides with a DIFFERENT vector is exactly an `update`. Commits
    * tagged op:compact / op:apply / op:recluster are dataChange-free by
    * construction — compaction and re-clustering move bytes and the
    * physical tombstone purge materializes deletes the logical commit
    * already reported — and are skipped without reading anything.
    */
  def indexChanges(spark: org.apache.spark.sql.SparkSession, path: String,
                   fromVersion: Int, toVersion: Int, idCol: String,
                   vecCol: String): DataFrame =
    indexChangeRows(spark, path, fromVersion, toVersion, idCol, vecCol)
      .filter(col("change_type") =!= "update_preimage")
      .select(col("version"), col("vid"),
        when(col("change_type") === "update_postimage", lit("update"))
          .otherwise(col("change_type")).as("change_type"))

  /** The change feed between two TIMESTAMPS — [[versionAsOf]] composed
    * with [[indexChanges]] (`table_changes(..., timestamp, timestamp)`,
    * the Delta CDF call every downstream scheduler makes: "what changed
    * since my last run at time t"). Both probes resolve to committed
    * versions first (metadata-scale), then the feed reads only the
    * commits between them — cost ∝ the changed bytes of that window,
    * never the corpus, at any timestamp span.
    */
  def indexChangesAsOf(spark: org.apache.spark.sql.SparkSession,
                       path: String, tsFrom: Long, tsTo: Long,
                       idCol: String, vecCol: String): DataFrame = {
    val vFrom = versionAsOf(spark, path, tsFrom)
    val vTo = versionAsOf(spark, path, tsTo)
    require(vTo > vFrom,
      s"indexChangesAsOf: ts window [$tsFrom, $tsTo] resolves to " +
        s"versions [$vFrom, $vTo] — nothing committed in between")
    indexChanges(spark, path, vFrom, vTo, idCol, vecCol)
  }

  /** [[indexChanges]] with ROW IMAGES — the full Delta-CDF row contract:
    * `(version, vid, change_type, vec)` where change_type ∈ insert |
    * delete | update_preimage | update_postimage and `vec` carries the
    * row's vector (the OLD vector on update_preimage, the NEW one on
    * update_postimage). Pre/post images are what make a change feed
    * actually consumable: an incremental materialization subtracts the
    * preimage's contribution and adds the postimage's without touching
    * the base corpus (q_cdc_materialize). Same cost model — only each
    * commit's changed files are read.
    *
    * A LOGICAL tombstone delete's preimage lives in UNCHANGED files, so
    * by default its row arrives with a NULL vec (the gap every
    * file-diff CDC shares). `resolveTombstonePreimages = true` CLOSES
    * it: the deleted ids — tombstone-sidecar-sized by construction —
    * are looked up in the PRE-commit snapshot, opened BLOOM-PRUNED when
    * the prior version committed a bloom sidecar for the id column
    * (changed-rows-sized I/O: only the files that might hold a deleted
    * id are read; the full-snapshot fallback without a sidecar is
    * honest but corpus-priced, which is why delete-heavy feeds should
    * maintain the bloom sidecar — [[writeBloomFilterIncremental]] makes
    * that delta-cheap). Under the flag a tombstoned id that matched N
    * physical rows emits N imaged delete rows (exactly the rows MOR
    * subtraction kills) and an id matching nothing emits none — a
    * value-summing IVM view can then consume a delete-only feed
    * ([[graft.streaming.IndexStream.maintainBucketView]] opts in). The
    * default stays image-free so id-only consumers never pay the
    * lookup.
    */
  def indexChangeRows(spark: org.apache.spark.sql.SparkSession, path: String,
                      fromVersion: Int, toVersion: Int, idCol: String,
                      vecCol: String,
                      resolveTombstonePreimages: Boolean = false)
      : DataFrame = {
    require(fromVersion >= 1 && toVersion > fromVersion,
      s"indexChangeRows: need 1 <= from < to, got $fromVersion..$toVersion")
    def emptyIds = spark.range(0).select(col("id").cast("long").as("vid"))
    def rowsOf(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.range(0).select(col("id").cast("long").as("vid"),
          array().cast("array<double>").as("vec"))
      else
        readFiles(spark, path, files)
          .select(col(idCol).cast("long").as("vid"),
            col(vecCol).cast("array<double>").as("vec"))
    def delsOf(snap: Snapshot): DataFrame =
      snap.tombstones(spark)
        .map(_.select(col("vid").cast("long").as("vid")))
        .getOrElse(emptyIds)
    val steps = ((fromVersion + 1) to toVersion).flatMap { v =>
      val snapB = snapshot(spark, path, v)
      val op = snapB.meta.getOrElse("op", "")
      // dataChange-free maintenance commits: bytes move, meaning doesn't
      // (localize copies inherited bytes under the clone root verbatim)
      if (op == "compact" || op == "apply" || op == "recluster" ||
          op == "localize") None
      else {
        val snapA = snapshot(spark, path, v - 1)
        val a = snapA.files.toSet
        val b = snapB.files.toSet
        val addRows = rowsOf((b -- a).toSeq.sorted)
        val remRows = rowsOf((a -- b).toSeq.sorted)
        val delsA = delsOf(snapA)
        val delsB = delsOf(snapB)
        // content diff; visibility-masked (a row tombstoned at B was
        // never visible as an add; a row already dead at A is no delete)
        val insRows = addRows.exceptAll(remRows)
          .join(delsB, Seq("vid"), "left_anti")
        val delRows = remRows.exceptAll(addRows)
          .join(delsA, Seq("vid"), "left_anti")
        // an id with changed content on BOTH sides is an update
        val updIds = insRows.select(col("vid")).distinct()
          .intersect(delRows.select(col("vid")).distinct())
        val post = insRows.join(updIds, Seq("vid"), "left_semi")
          .select(col("vid"), lit("update_postimage").as("change_type"),
            col("vec"))
        val pre = delRows.join(updIds, Seq("vid"), "left_semi")
          .select(col("vid"), lit("update_preimage").as("change_type"),
            col("vec"))
        val ins = insRows.join(updIds, Seq("vid"), "left_anti")
          .select(col("vid"), lit("insert").as("change_type"), col("vec"))
        val delP = delRows.join(updIds, Seq("vid"), "left_anti")
          .select(col("vid"), lit("delete").as("change_type"), col("vec"))
        // logical deletes: the tombstone delta, minus ids the file diff
        // already accounted for; preimages resolved from the pre-commit
        // snapshot only under the flag (see Scaladoc)
        val tombIds = delsB.except(delsA)
          .except(insRows.select(col("vid")))
          .except(delRows.select(col("vid")))
        val tombL =
          if (!resolveTombstonePreimages)
            tombIds.select(col("vid"), lit("delete").as("change_type"),
              lit(null).cast("array<double>").as("vec"))
          else {
            // the driver copy is tombstone-sidecar-sized — it is what
            // lets the prior snapshot open bloom-pruned instead of full
            val ids = tombIds.collect().map(_.getLong(0))
            if (ids.isEmpty)
              // null (not array()) literal: a zero-element array literal
              // constant-folds into downstream element_at and throws
              // under ANSI even on a zero-row frame
              spark.range(0).select(col("id").cast("long").as("vid"),
                lit("delete").as("change_type"),
                lit(null).cast("array<double>").as("vec"))
            else {
              val prevFiles = snapA.files
              val keep =
                try {
                  val blooms = readBloomFilter(spark, path, v - 1, idCol)
                  prevFiles.filter(f => blooms.get(f).forall(b =>
                    ids.exists(k => b.mightContainLong(mixBloomKey(k)))))
                } catch {
                  // no sidecar: honest full-snapshot fallback
                  case _: java.io.IOException => prevFiles
                }
              rowsOf(keep)
                .join(tombIds, Seq("vid"), "left_semi")
                .select(col("vid"), lit("delete").as("change_type"),
                  col("vec"))
            }
          }
        Some(post.unionByName(pre).unionByName(ins).unionByName(delP)
          .unionByName(tombL)
          .select(lit(v).as("version"), col("vid"), col("change_type"),
            col("vec")))
      }
    }
    if (steps.isEmpty)
      spark.range(0).select(lit(0).as("version"),
        col("id").cast("long").as("vid"), lit("").as("change_type"),
        array().cast("array<double>").as("vec"))
    else steps.reduce(_ unionByName _)
  }

  // ------------------------------------- file skipping (zone maps)

  /** Per-file (min, max) of `colName` straight from the parquet FOOTER
    * column-chunk statistics ([[harvestFooters]]) — no data page is read
    * (the writer already paid for the stats at write time). `conv` turns
    * one raw statistic into a T (None: unusable); a file any block of
    * which lacks usable stats for the column maps to None — unprunable,
    * never wrong.
    */
  private def footerRanges[T](spark: org.apache.spark.sql.SparkSession,
                              path: String, files: Seq[String],
                              colName: String)(conv: Any => Option[T])
                             (implicit ord: Ordering[T])
      : Map[String, Option[(T, T)]] =
    harvestFooters(spark, path, files, Option.empty[(T, T)]) { r =>
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val perBlock = blocks.flatMap(_.getColumns.asScala
        .find(_.getPath.toDotString == colName)
        .flatMap { c =>
          val s: org.apache.parquet.column.statistics.Statistics[_] =
            c.getStatistics
          if (s == null || !s.hasNonNullValue) None
          else for (mn <- conv(s.genericGetMin); mx <- conv(s.genericGetMax))
            yield (mn, mx)
        })
      // every block must carry stats or the file is unprunable
      if (perBlock.length == blocks.size)
        perBlock.reduceOption((x, y) => (ord.min(x._1, y._1), ord.max(x._2, y._2)))
      else None
    }

  /** Commit-time zone map: `_manifests/v{N}.colstats`, one
    * `relpath<TAB>col<TAB>min<TAB>max` line per manifest file and
    * column, harvested from parquet footers. Same single-file-create
    * commit discipline as manifests and `.stats`. The point of paying a
    * footer pass ONCE at commit: every later pruned read
    * ([[readIndexVersionPruned]]) plans against one small sidecar
    * instead of touching N footers — at 100 TB with millions of files
    * the planning I/O is what data skipping actually buys (the
    * Delta/Snowflake data-skipping design, public literature).
    */
  def writeColStats(spark: org.apache.spark.sql.SparkSession, path: String,
                    version: Int, cols: String*): Unit = {
    require(cols.nonEmpty, "writeColStats: at least one column")
    writeSidecarFull(spark, path, version, colStatsSidecar(spark, path, cols))
  }

  /** The zone-map lines for `files` (column-major, manifest order) — the
    * pure computation both the full ([[writeColStats]]) and incremental
    * ([[writeColStatsIncremental]]) writers emit, exposed so audits can
    * prove an incremental sidecar byte-identical to a from-scratch
    * rebuild. A file with no usable footer stats gets the full range.
    */
  def colStatsLines(spark: org.apache.spark.sql.SparkSession, path: String,
                    files: Seq[String], cols: Seq[String]): Seq[String] = {
    val ranges = cols.map(c => c -> footerRanges(spark, path, files, c) {
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    })
    for { (c, byFile) <- ranges; f <- files } yield {
      val (mn, mx) = byFile(f).getOrElse((Long.MinValue, Long.MaxValue))
      s"$f\t$c\t$mn\t$mx"
    }
  }

  /** Atomic sidecar publish under `_manifests/` — the manifest commit
    * discipline (create-if-absent, duplicate refused). */
  private def commitSidecar(spark: org.apache.spark.sql.SparkSession,
                            path: String, name: String,
                            lines: Seq[String], what: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path, s"_manifests/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    atomicCreate(fs, path, p,
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), what)
  }

  /** Commit an arbitrary named sidecar under `_manifests/` with the
    * manifest discipline (atomic create, duplicate refused) — the seam
    * domain-specific sidecars (retrieval term stats, …) publish
    * through. */
  def writeSidecar(spark: org.apache.spark.sql.SparkSession, path: String,
                   name: String, lines: Seq[String]): Unit =
    commitSidecar(spark, path, name, lines, s"sidecar $name")

  /** The raw committed lines of a `_manifests/<name>` sidecar, or None
    * when no such sidecar was ever committed. */
  def readSidecarLines(spark: org.apache.spark.sql.SparkSession,
                       path: String, name: String): Option[Seq[String]] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path, s"_manifests/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None else Some(fileLines(spark, p))
  }

  /** The newest version < `version` that committed a `<vNNNNN><suffix>`
    * sidecar — the carry-forward base of every incremental writer. */
  private def prevSidecarVersion(spark: org.apache.spark.sql.SparkSession,
                                 path: String, version: Int,
                                 suffix: String): Option[Int] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = new HPath(path, "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listVersions(spark, path).filter(_ < version).sorted.reverse
      .find(v => fs.exists(new HPath(path, f"_manifests/v$v%05d$suffix")))
  }

  // ------------------------ skipping sidecars: one codec per kind

  /** One skipping-sidecar kind (zone map, string bounds, bloom) as the
    * generic writers and reader see it: it commits as
    * `_manifests/vNNNNN.<suffix>`, leads with the format `header` (None:
    * headerless), has `fields` tab fields per line of which the first
    * `keyFields` key it (the file, or the file and column), holds the
    * `keys` of a file list in that order, and `build`s the lines of a
    * set of files. Lines are deterministic per key — data files are
    * immutable — so a line carried from an earlier version equals the
    * line a rebuild would compute.
    */
  private final case class Sidecar(suffix: String, header: Option[String],
                                   fields: Int, keyFields: Int,
                                   keys: Seq[String] => Seq[String],
                                   build: Seq[String] => Seq[String]) {
    def name(version: Int): String = f"v$version%05d.$suffix"
    def split(line: String): Array[String] = {
      val parts = line.split('\t')
      require(parts.length == fields, s"malformed $suffix line: ${line.take(80)}")
      parts
    }
    def key(line: String): String = split(line).take(keyFields).mkString("\t")
  }

  private def colStatsSidecar(spark: org.apache.spark.sql.SparkSession,
                              path: String, cols: Seq[String]) =
    Sidecar("colstats", None, 4, 2,
      files => for (c <- cols; f <- files) yield s"$f\t$c",
      colStatsLines(spark, path, _, cols))

  private def strStatsSidecar(spark: org.apache.spark.sql.SparkSession,
                              path: String, colName: String,
                              truncateTo: Int) =
    Sidecar("strstats", Some(stringStatsSidecarHeader(truncateTo)), 4, 2,
      _.map(f => s"$f\t$colName"),
      stringStatsLines(spark, path, _, colName, truncateTo))

  private def bloomSidecar(spark: org.apache.spark.sql.SparkSession,
                           path: String, colName: String, fpp: Double) =
    Sidecar(s"bloom.$colName", Some(bloomSidecarHeader(fpp)), 2, 1,
      identity, bloomFilterLines(spark, path, _, colName, fpp))

  /** Commit `sc` for every file of `version`'s manifest; returns the
    * number of lines harvested (all of them). */
  private def writeSidecarFull(spark: org.apache.spark.sql.SparkSession,
                               path: String, version: Int,
                               sc: Sidecar): Int = {
    val lines = sc.build(readManifest(spark, path, version))
    commitSidecar(spark, path, sc.name(version), sc.header.toSeq ++ lines,
      s"${sc.suffix} v$version")
    lines.length
  }

  /** INCREMENTAL sidecar maintenance — the carry-forward model the KMV
    * NDV sidecar proved ([[writeNdvSketch]]'s rank-monotonic merge):
    * instead of re-harvesting every file of the version's manifest
    * (O(table) per commit — the one write-path scale-killer in an
    * otherwise metadata-priced design), only the files whose keys the
    * newest earlier sidecar lacks are built; every carried line is
    * copied VERBATIM (data files are immutable, so the line cannot have
    * changed), and removed files' lines simply don't re-land. The
    * committed bytes are IDENTICAL to a from-scratch build — same key
    * order, same deterministic per-line payload — so readers cannot tell
    * the difference; only the write cost changes: ∝ the commit's delta,
    * not the table. Carrying happens ONLY under the same format header
    * (ADVICE r12): a prior sidecar built with different parameters (a
    * string truncation, a bloom fpp) or a pre-header one (a v1 bloom,
    * whose unmixed keys would also break probe correctness) falls back
    * to the full build, as does a version with no earlier sidecar.
    * Returns (nCarried, nHarvested) in line units — `nHarvested` is
    * exactly the added files' line count when the previous sidecar
    * covered the same columns, the audit every caller should gate on.
    */
  private def writeSidecarIncremental(spark: org.apache.spark.sql.SparkSession,
                                      path: String, version: Int,
                                      sc: Sidecar): (Int, Int) = {
    val prev = prevSidecarVersion(spark, path, version, s".${sc.suffix}")
      .flatMap(v => readSidecarLines(spark, path, sc.name(v)))
      .filter(lines => sc.header.forall(lines.headOption.contains))
    prev match {
      case None => (0, writeSidecarFull(spark, path, version, sc))
      case Some(lines) =>
        val prevByKey = lines.filterNot(_.startsWith("#"))
          .map(l => sc.key(l) -> l).toMap
        val files = readManifest(spark, path, version)
        val keys = sc.keys(files)
        val missing = keys.filterNot(prevByKey.contains)
        val stale = missing.map(_.takeWhile(_ != '\t')).toSet
        val fresh = sc.build(files.filter(stale))
          .map(l => sc.key(l) -> l).toMap
        commitSidecar(spark, path, sc.name(version), sc.header.toSeq ++
          keys.map(k => prevByKey.getOrElse(k, fresh(k))),
          s"${sc.suffix} v$version")
        (keys.length - missing.length, missing.length)
    }
  }

  /** The committed sidecar `sc` of `version`: its format header (None:
    * headerless) and its lines split into fields — loud on a missing
    * sidecar and on a malformed line. Only `sc`'s name and line shape
    * are used here, never its build parameters. */
  private def readSidecar(spark: org.apache.spark.sql.SparkSession,
                          path: String, version: Int, sc: Sidecar)
      : (Option[String], Seq[Array[String]]) = {
    val lines = readSidecarLines(spark, path, sc.name(version))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"missing sidecar ${sc.name(version)} under $path"))
    (lines.headOption.filter(_.startsWith("#")),
      lines.filterNot(_.startsWith("#")).map(sc.split))
  }

  /** INCREMENTAL zone-map maintenance ([[writeSidecarIncremental]]):
    * committed bytes identical to [[writeColStats]], footers harvested
    * only for the commit's added files. Returns (nCarried, nHarvested)
    * in line units.
    */
  def writeColStatsIncremental(spark: org.apache.spark.sql.SparkSession,
                               path: String, version: Int, cols: String*)
      : (Int, Int) = {
    require(cols.nonEmpty, "writeColStatsIncremental: at least one column")
    writeSidecarIncremental(spark, path, version,
      colStatsSidecar(spark, path, cols))
  }

  /** The committed zone map of `version` for `colName` — file →
    * (min, max). Loud on a missing sidecar; a file with no line for
    * this column maps to nothing (callers treat absent as unprunable).
    */
  def readColStats(spark: org.apache.spark.sql.SparkSession, path: String,
                   version: Int, colName: String)
      : Map[String, (Long, Long)] =
    readSidecar(spark, path, version,
        colStatsSidecar(spark, path, Seq(colName)))._2
      .collect { case Array(f, c, mn, mx) if c == colName =>
        f -> (mn.toLong, mx.toLong) }.toMap

  /** The one pruned read: the files of `version` that `keep` admits,
    * scanned through [[scan]] (an empty kept set reads as an empty frame
    * with the version's schema), minus the version's deletion-vector
    * positions (none to subtract from an empty kept set, whose frame has
    * no resolvable `_metadata`). Returns (rows, keptFiles, filesTotal).
    *
    * Id tombstones ([[commitDeletes]]) are NOT subtracted: a tombstone
    * sidecar names ids, not the id column, and the readers above this
    * take only the column they prune on, which need not be the id. So
    * every pruned reader is the pruned form of [[readIndexVersionDv]];
    * [[readIndexVersionVisible]] (given the id column) is the visible
    * read of a version that may carry tombstones.
    */
  private def prunedScan(spark: org.apache.spark.sql.SparkSession,
                         path: String, version: Int)
                        (keep: String => Boolean)
      : (DataFrame, Seq[String], Int) = {
    val snap = snapshot(spark, path, version)
    val kept = snap.files.filter(keep)
    val rows = scan(spark, snap, kept)
    (if (kept.isEmpty) rows else withoutDv(spark, snap, rows), kept, snap.files.length)
  }

  /** Read a pinned version with FILE SKIPPING for the range predicate
    * `lo <= col <= hi`: files whose committed zone-map range is disjoint
    * from [lo, hi] are never opened — not even their footers — and the
    * precise filter still applies on top (zone maps prune, they do not
    * answer). Planning cost: one sidecar read; scan cost ∝ the
    * INTERSECTING files' bytes. On a layout clustered on the column
    * (range-partitioned writes) that is the fraction of the corpus the
    * range covers; on an uncorrelated layout it degrades to the full
    * scan — correct either way, which is the zone-map contract. Returns
    * (rows, filesRead, filesTotal) so callers can audit the pruning
    * actually happened.
    * Subtracts the version's deletion-vector positions but not its id
    * tombstones; [[readIndexVersionVisible]] is the visible read.
    */
  def readIndexVersionPruned(spark: org.apache.spark.sql.SparkSession,
                             path: String, version: Int, colName: String,
                             lo: Long, hi: Long): (DataFrame, Int, Int) =
    readIndexVersionPrunedRect(spark, path, version, Seq((colName, lo, hi)))

  /** [[readIndexVersionPruned]] over a CONJUNCTION of range predicates —
    * the rectangle read multi-dimensional clustering exists for: on a
    * z-ordered layout every predicate column has tight per-file zones,
    * so the kept set is the files whose zones intersect EVERY range
    * (a file is skipped the moment ONE dimension rules it out), while a
    * 1-D-clustered layout can only ever skip on its sort column —
    * q_zonemap_rect gates that contrast. The precise conjunctive filter
    * still applies on top. Returns (rows, filesRead, filesTotal).
    * Subtracts the version's deletion-vector positions but not its id
    * tombstones; [[readIndexVersionVisible]] is the visible read.
    */
  def readIndexVersionPrunedRect(spark: org.apache.spark.sql.SparkSession,
                                 path: String, version: Int,
                                 preds: Seq[(String, Long, Long)])
      : (DataFrame, Int, Int) = {
    require(preds.nonEmpty, "readIndexVersionPrunedRect: need a predicate")
    preds.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"readIndexVersionPrunedRect: $c lo $lo > hi $hi") }
    val zonesByCol = preds.map { case (c, _, _) =>
      c -> readColStats(spark, path, version, c) }.toMap
    val (rows, kept, total) = prunedScan(spark, path, version) { f =>
      preds.forall { case (c, lo, hi) =>
        val (mn, mx) = zonesByCol(c)
          .getOrElse(f, (Long.MinValue, Long.MaxValue))
        mx >= lo && mn <= hi
      }
    }
    val filtered = preds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _)
    (rows.filter(filtered), kept.length, total)
  }

  // --------------------------------- string zone maps (prefix skipping)

  /** Unsigned lexicographic byte order — parquet's order for binary
    * statistics, so every string-bound comparison here uses it, never
    * String.compareTo (UTF-16 code-unit order diverges above 0x7F). */
  private object UnsignedBytes extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  /** The least byte string strictly greater than EVERY string having
    * `p` as a prefix: `p` with its last non-0xFF byte incremented and
    * the tail dropped (the Iceberg truncate-transform upper bound,
    * public). None when `p` is all 0xFF — no finite bound exists.
    */
  private[ops] def prefixUpperBound(p: Array[Byte]): Option[Array[Byte]] = {
    val i = p.lastIndexWhere(b => (b & 0xff) != 0xff)
    if (i < 0) None
    else {
      val out = p.take(i + 1)
      out(i) = ((out(i) & 0xff) + 1).toByte
      Some(out)
    }
  }

  /** The format header every string-stats sidecar leads with (ADVICE
    * r12): records the `truncateTo` the bounds were built under, so the
    * incremental writer detects a parameter change and rebuilds instead
    * of carrying lines whose truncation differs — which would silently
    * break the byte-identical-to-full-rebuild contract the audits gate
    * on. Deterministic per truncateTo.
    */
  def stringStatsSidecarHeader(truncateTo: Int): String =
    s"#strstats\tv2\ttruncate=$truncateTo"

  /** Commit-time STRING zone map: `_manifests/v{N}.strstats`, one
    * `relpath<TAB>col<TAB>b64(lower)<TAB>b64(upperExcl)|*` line per
    * manifest file after the format header. Bounds are TRUNCATED to
    * `truncateTo` bytes (the Iceberg truncate transform, public): the
    * lower bound is the min's byte prefix (truncation only lowers it),
    * the upper is the max's truncated prefix incremented — an EXCLUSIVE
    * bound ≥ every value in the file, `*` when the prefix is all 0xFF
    * (unbounded, unprunable from above). Truncation is what makes string
    * zone maps affordable: the sidecar carries 2×16 bytes per file
    * regardless of how long the strings are. A file with no harvestable
    * stats writes `*<TAB>*` — unprunable, never wrong. Same
    * footer-pass-at-commit / one-sidecar-at-plan-time economics as
    * [[writeColStats]].
    */
  def writeStringStats(spark: org.apache.spark.sql.SparkSession,
                       path: String, version: Int, colName: String,
                       truncateTo: Int = 16): Unit = {
    require(truncateTo > 0, "writeStringStats: truncateTo must be positive")
    writeSidecarFull(spark, path, version,
      strStatsSidecar(spark, path, colName, truncateTo))
  }

  /** The string zone-map lines for `files` — the pure computation
    * shared by the full and incremental writers; deterministic per file
    * (truncated footer byte bounds over immutable bytes).
    */
  def stringStatsLines(spark: org.apache.spark.sql.SparkSession,
                       path: String, files: Seq[String], colName: String,
                       truncateTo: Int = 16): Seq[String] = {
    val byFile = footerRanges(spark, path, files, colName) {
      case b: org.apache.parquet.io.api.Binary => Some(b.getBytes)
      case _ => None
    }(UnsignedBytes)
    val b64 = java.util.Base64.getEncoder
    files.map { f =>
      byFile(f) match {
        case Some((mn, mx)) =>
          val lower = b64.encodeToString(mn.take(truncateTo))
          val upper = prefixUpperBound(mx.take(truncateTo))
            .map(b64.encodeToString).getOrElse("*")
          s"$f\t$colName\t$lower\t$upper"
        case None => s"$f\t$colName\t*\t*"
      }
    }
  }

  /** INCREMENTAL string-zone-map maintenance ([[writeSidecarIncremental]]:
    * footer harvest only over the commit's added files, carried lines
    * verbatim, committed bytes identical to a full rebuild). Returns
    * (nCarried, nHarvested). Keyed (file, col) like colstats, so a
    * sidecar built for one column carries cleanly only under the same
    * column — a different `colName` re-harvests everything, loudly
    * visible in the audit.
    */
  def writeStringStatsIncremental(spark: org.apache.spark.sql.SparkSession,
                                  path: String, version: Int,
                                  colName: String, truncateTo: Int = 16)
      : (Int, Int) =
    writeSidecarIncremental(spark, path, version,
      strStatsSidecar(spark, path, colName, truncateTo))

  /** Post-commit skipping-sidecar maintenance in ONE call — the hook an
    * append / merge / compact flow runs right after its manifest lands
    * so every skipping structure (zone maps, blooms, string bounds)
    * stays fresh at DELTA cost: each sidecar carries the previous
    * version's lines forward and harvests only the commit's added
    * files. At 100 TB with daily commits this is the difference between
    * per-commit maintenance priced by the commit and a nightly
    * full-table stats job. Returns summed (nCarried, nHarvested) across
    * the requested sidecars.
    */
  def refreshSkippingSidecars(spark: org.apache.spark.sql.SparkSession,
                              path: String, version: Int,
                              zoneCols: Seq[String] = Nil,
                              bloomCols: Seq[String] = Nil,
                              strCols: Seq[String] = Nil): (Int, Int) = {
    var carried = 0; var harvested = 0
    if (zoneCols.nonEmpty) {
      val (c, h) =
        writeColStatsIncremental(spark, path, version, zoneCols: _*)
      carried += c; harvested += h
    }
    bloomCols.foreach { bc =>
      val (c, h) = writeBloomFilterIncremental(spark, path, version, bc)
      carried += c; harvested += h
    }
    strCols.foreach { sc =>
      val (c, h) = writeStringStatsIncremental(spark, path, version, sc)
      carried += c; harvested += h
    }
    (carried, harvested)
  }

  /** The committed string zone map of `version` for `colName`:
    * file → Some((lowerInclusive, Some(upperExclusive) | None)) — None
    * for a file with no usable stats (unprunable). Loud on a missing
    * sidecar.
    */
  def readStringStats(spark: org.apache.spark.sql.SparkSession,
                      path: String, version: Int, colName: String)
      : Map[String, Option[(Array[Byte], Option[Array[Byte]])]] = {
    val b64 = java.util.Base64.getDecoder
    readSidecar(spark, path, version,
        strStatsSidecar(spark, path, colName, 16))._2
      .collect { case Array(f, c, lo, hi) if c == colName =>
        f -> (if (lo == "*") None
              else Some((b64.decode(lo),
                if (hi == "*") None else Some(b64.decode(hi)))))
      }.toMap
  }

  /** Read a pinned version with FILE SKIPPING for the predicate
    * `colName LIKE 'prefix%'`: a file is opened only when its committed
    * truncated byte range intersects `[prefix, prefixUpperBound)` —
    * all comparisons unsigned-byte-lexicographic, matching parquet's
    * binary stats order. The exact startsWith filter still applies on
    * top (zone maps prune, they never answer); a file with no stats is
    * kept. On a source-clustered layout the scan touches the files
    * whose range covers the prefix; on an uncorrelated layout it
    * degrades to the full scan — correct either way. Returns
    * (rows, filesRead, filesTotal).
    * Subtracts the version's deletion-vector positions but not its id
    * tombstones; [[readIndexVersionVisible]] is the visible read.
    */
  def readIndexVersionPrunedPrefix(spark: org.apache.spark.sql.SparkSession,
                                   path: String, version: Int,
                                   colName: String, prefix: String)
      : (DataFrame, Int, Int) = {
    require(prefix.nonEmpty, "readIndexVersionPrunedPrefix: empty prefix")
    val p = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pEnd = prefixUpperBound(p)
    val zones = readStringStats(spark, path, version, colName)
    val (rows, kept, total) = prunedScan(spark, path, version) { f =>
      zones.get(f).flatten match {
        case None => true // no stats — unprunable, never wrong
        case Some((lower, upperExcl)) =>
          // query range [p, pEnd) ∩ file range [lower, upperExcl) ≠ ∅
          upperExcl.forall(u => UnsignedBytes.lt(p, u)) &&
            pEnd.forall(pe => UnsignedBytes.lt(lower, pe))
      }
    }
    (rows.filter(col(colName).startsWith(prefix)), kept.length, total)
  }

  /** RE-CLUSTERING rewrite — the layout-maintenance op every
    * zone-mapped table eventually needs (the OPTIMIZE / Z-ORDER
    * maintenance design, public literature): compaction coalesces each
    * partition's files and thereby DESTROYS any within-partition
    * clustering — after it, every file's zone spans the full id range
    * and range reads open everything (correct, blind). This op rewrites
    * `fromVersion` range-partitioned on `rangeCol` (within the same
    * `centroid=` layout), lands the new files beside the old via the
    * stage-then-rename discipline, and commits `toVersion` listing ONLY
    * them — pinned readers undisturbed, old files reclaimed by vacuum.
    * Content is byte-identical to the source version, so the commit is
    * tagged `op:recluster` and the change feed stays silent across it
    * (like compact/apply); a pending tombstone pointer rides along.
    * Single-writer like every rewrite ([[commitFilesOcc]] documents the
    * split). Cost: one full shuffle + write of the version's bytes —
    * paid when range-read blindness costs more, the standard
    * clustering-maintenance trade. Fresh zone-map / bloom sidecars for
    * the new version are the caller's next call ([[writeColStats]] /
    * [[writeBloomFilter]] work on any committed version).
    * Returns (filesFrom, filesTo).
    */
  def reclusterVersioned(spark: org.apache.spark.sql.SparkSession,
                         path: String, fromVersion: Int, toVersion: Int,
                         rangeCol: String, numRanges: Int): (Int, Int) = {
    require(numRanges >= 1, "reclusterVersioned: numRanges must be >= 1")
    refuseCommitted(spark, path, toVersion)
    val from = snapshot(spark, path, fromVersion)
    requireLocalEntries(from.files, s"recluster to v$toVersion")
    // a recluster rewrites EVERY file, so a pending DV (keyed by file,
    // pos) cannot carry — it is applied physically here and its pointer
    // dropped; the rows it named were already reported deleted at their
    // logical commit, so the dataChange-free op:recluster stays honest.
    // Id tombstones survive any rewrite and stay pending; column
    // mappings ride along. The re-clustered output is this commit's new
    // files, validated pre-manifest
    val newFiles = land(spark, path, s"_staging/recluster_$toVersion",
      Some(toVersion), withoutDv(spark, from, scan(spark, from, from.files))
        .repartitionByRange(numRanges, col(rangeCol))
        .write.partitionBy("centroid"))(
      (dir, i) => s"$dir/recluster$toVersion-$i.parquet")
    commitVersion(spark, from, toVersion, newFiles.sorted, newFiles,
      Set("dv", "dvcount"), Map("op" -> "recluster"))
    (from.files.length, newFiles.length)
  }

  // ------------------------ point-lookup skipping (bloom sidecars)

  /** The splitmix64 finalizer applied to every value BEFORE it enters a
    * bloom sidecar and to every probe key before testing. Spark's
    * `util.sketch.BloomFilter` derives its k probe positions from two
    * 32-bit Murmur3 halves by double hashing — on SEQUENTIAL longs (the
    * exact shape of dense row ids) the halves are so correlated that
    * the EMPIRICAL false-positive rate floors around 1e-3 regardless of
    * the requested fpp (measured here: 3 FPs over 2048 consecutive
    * absent probes against a 60-item filter built at fpp 1e-6 — three
    * orders of magnitude over nominal, enough to keep EVERY file in a
    * 2000-key DFP probe). One stateless 64-bit finalizer decorrelates
    * the input (same probes after mixing: 0 FPs at 1e-6, ~2e-3 at
    * 1e-3), restoring the |keys|·fpp cost model the sidecar's contract
    * promises. Writers and probes must agree — the mix is part of the
    * sidecar format.
    */
  private[ops] def mixBloomKey(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The `#`-prefixed FORMAT HEADER every bloom sidecar leads with
    * (ADVICE r12): `v2` names the key treatment (splitmix64-mixed keys
    * + the 1000-item sizing floor) and the header records the build
    * `fpp`, so (a) a reader can never probe a pre-mix sidecar with
    * mixed keys — that combination yields FALSE NEGATIVES, i.e.
    * silently wrong pruning — and (b) the incremental writer can detect
    * a parameter change and rebuild instead of carrying lines built
    * under different sizing. Deterministic for a given fpp, so the
    * byte-identical-to-full-rebuild contract survives: same fpp → same
    * header → same bytes.
    */
  def bloomSidecarHeader(fpp: Double): String = s"#bloom\tv2\tfpp=$fpp"

  /** Commit-time per-file BLOOM sidecar:
    * `_manifests/v{N}.bloom.{col}`, one `relpath<TAB>base64(filter)`
    * line per manifest file after the format header, built in ONE
    * column-projected pass over the version's data
    * ([[bloomFilterLines]]). Zone maps ([[writeColStats]]) serve RANGES;
    * a point lookup on a high-cardinality column that the layout is NOT
    * clustered on has min/max ranges that cover everything and degrades
    * to a full scan — per-file blooms are the standard answer (the
    * Parquet bloom-filter / lakehouse bloom-index design, public
    * literature): no false negatives ever, false positives at `fpp`.
    * Cost model: the build pays one column scan at commit time; every
    * later point read plans against one sidecar. At very large file
    * counts the single sidecar file should shard (same evolution
    * manifests themselves take — a documented scale path, not a
    * semantic change).
    */
  def writeBloomFilter(spark: org.apache.spark.sql.SparkSession,
                       path: String, version: Int, colName: String,
                       fpp: Double = 0.001): Unit =
    writeSidecarFull(spark, path, version,
      bloomSidecar(spark, path, colName, fpp))

  /** The per-file bloom lines for `files` — the pure computation shared
    * by [[writeBloomFilter]] (all manifest files) and
    * [[writeBloomFilterIncremental]] (only a commit's added files):
    * ONE column-projected scan of exactly `files`, per-partition
    * partial filters merged by key (the raw values never shuffle, only
    * filter bitmaps do). Filter sizing is per-file from the footer row
    * counts; Spark's own `util.sketch.BloomFilter` (fixed-seed hashing)
    * keeps every line deterministic per file, so a line built at any
    * commit is byte-equal to the same file's line in a full rebuild.
    */
  def bloomFilterLines(spark: org.apache.spark.sql.SparkSession,
                       path: String, files: Seq[String], colName: String,
                       fpp: Double = 0.001): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.util.sketch.BloomFilter
    if (files.isEmpty) return Seq.empty
    // the scan names each row's file by URI: filters key by the URI's
    // path, which a clone-inherited (external) entry resolves to as
    // surely as a local one
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val uriPath = files.map(f =>
      f -> fs.makeQualified(new HPath(resolveRel(path, f))).toUri.getPath).toMap
    // SIZING FLOOR: below ~3k bits Spark's double-hashed filter has an
    // empirical FP floor ≈ k/bits regardless of the requested fpp
    // (measured: 320-bit filter, 10 mixed items → 2.7e-3 FP at nominal
    // 1e-6; 28.8k bits → nominal). 1000 expected items (3.6 KB at 1e-6)
    // is noise per file and irrelevant at production file sizes, where
    // row counts dwarf it — but it makes small-file sidecars honest.
    val bcN = spark.sparkContext.broadcast(footerCounts(spark, path, files)
      .map { case (f, n) => uriPath(f) -> math.max(1000L, n) })
    val merged = readFiles(spark, path, files)
      .select(input_file_name().as("_file"),
        col(colName).cast("long").as("_v"))
      .where(col("_v").isNotNull)
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap[String, BloomFilter]()
        it.foreach { r =>
          val f = new java.net.URI(r.getString(0)).getPath
          val bf = acc.getOrElseUpdate(f,
            BloomFilter.create(bcN.value.getOrElse(f, 1L), fpp))
          bf.putLong(mixBloomKey(r.getLong(1)))
        }
        acc.iterator
      }
      .reduceByKey { (a, b) => a.mergeInPlace(b); a }
      .collect().toMap // one bitmap per file — ~2 bytes/row at fpp 1e-3
    files.map { f =>
      val bf = merged.getOrElse(uriPath(f), // a file with zero non-null values
        BloomFilter.create(1000L, fpp))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      s"$f\t${java.util.Base64.getEncoder.encodeToString(bos.toByteArray)}"
    }
  }

  /** INCREMENTAL bloom-sidecar maintenance ([[writeSidecarIncremental]])
    * — the saving is DATA I/O, not just footers: the full
    * [[writeBloomFilter]] re-reads the indexed column of EVERY file in
    * the version; here only the files added since the newest earlier
    * sidecar are scanned (one column-projected pass over the delta),
    * carried files' lines copy verbatim, removed files' lines drop.
    * Committed bytes identical to a full rebuild. Returns
    * (nCarried, nHarvested) — nHarvested == |added files| is the
    * only-the-delta-was-scanned audit.
    */
  def writeBloomFilterIncremental(spark: org.apache.spark.sql.SparkSession,
                                  path: String, version: Int,
                                  colName: String, fpp: Double = 0.001)
      : (Int, Int) =
    writeSidecarIncremental(spark, path, version,
      bloomSidecar(spark, path, colName, fpp))

  /** The (file, base64 filter) entries of `version`'s bloom sidecar for
    * `colName` — loud on a missing sidecar and on one without the v2
    * header (probing a pre-mix sidecar with mixed keys would yield false
    * negatives: silently wrong pruning). */
  private def bloomEntries(spark: org.apache.spark.sql.SparkSession,
                           path: String, version: Int,
                           colName: String): Seq[(String, String)] = {
    val (header, lines) = readSidecar(spark, path, version,
      bloomSidecar(spark, path, colName, 0.001))
    require(header.exists(_.startsWith("#bloom\tv2\tfpp=")),
      s"bloom sidecar v$version.$colName: missing or unrecognized " +
        "'#bloom v2' format header — this sidecar predates splitmix64 key " +
        "mixing; probing it with mixed keys would yield false negatives " +
        "(silently wrong pruning). Rebuild it with writeBloomFilter.")
    lines.map(l => (l(0), l(1)))
  }

  private def decodeBloom(b64: String): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))

  /** The committed bloom sidecar of `version` for `colName` — file →
    * filter. Loud on a missing sidecar, like [[readColStats]].
    */
  def readBloomFilter(spark: org.apache.spark.sql.SparkSession,
                      path: String, version: Int, colName: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] =
    bloomEntries(spark, path, version, colName)
      .map { case (f, b64) => f -> decodeBloom(b64) }.toMap

  /** Read a pinned version with POINT-LOOKUP file skipping: only files
    * whose committed bloom filter might contain `value` are opened (a
    * file with no filter line is unprunable, never wrong), and the exact
    * `col = value` filter still applies on top — blooms prune, they do
    * not answer. No false negatives by construction; a false-positive
    * file costs one wasted open at rate `fpp`. Returns
    * (rows, filesKept, filesTotal) — the kept LIST, not just its count,
    * so audits can do exact false-positive accounting (kept minus
    * actually-containing).
    * Subtracts the version's deletion-vector positions but not its id
    * tombstones; [[readIndexVersionVisible]] is the visible read.
    */
  def readIndexVersionPoint(spark: org.apache.spark.sql.SparkSession,
                            path: String, version: Int, colName: String,
                            value: Long): (DataFrame, Seq[String], Int) = {
    val (rows, kept, total) =
      readIndexVersionSemi(spark, path, version, colName, Seq(value))
    (rows.filter(col(colName) === value), kept, total)
  }

  /** DYNAMIC FILE PRUNING for a join — the Delta DFP design (public):
    * when a fact table is joined to a small dimension on an indexed key,
    * the dimension's DISTINCT keys (collected at plan time, exactly the
    * build side a broadcast join collects anyway) probe each fact file's
    * committed bloom sidecar, and a file is opened only when SOME key
    * might be inside — the join's selectivity becomes scan-time file
    * skipping instead of a post-scan filter. No false negatives ever
    * (a matching row's file is always kept); a false-positive file costs
    * one wasted open at rate ≈ |keys|·fpp. `maxKeys` keeps the probe's
    * O(|keys|·|files|) driver cost explicit — past it, the right tool is
    * the shuffle join, not DFP (Delta's own fallback), or the
    * executor-side probe of [[readIndexVersionSemiDist]]. Returns (rows
    * of kept files, keptList, filesTotal); the caller's join applies the
    * exact predicate on top — blooms prune, they never answer.
    * Subtracts the version's deletion-vector positions but not its id
    * tombstones; [[readIndexVersionVisible]] is the visible read.
    */
  def readIndexVersionSemi(spark: org.apache.spark.sql.SparkSession,
                           path: String, version: Int, colName: String,
                           keys: Seq[Long], maxKeys: Int = 100000)
      : (DataFrame, Seq[String], Int) = {
    require(keys.nonEmpty, "readIndexVersionSemi: need at least one key")
    require(keys.length <= maxKeys,
      s"readIndexVersionSemi: ${keys.length} keys > $maxKeys — a key set " +
        "this large should shuffle-join, not bloom-probe (the DFP cutoff)")
    val blooms = readBloomFilter(spark, path, version, colName)
    prunedScan(spark, path, version)(f => blooms.get(f).forall(b =>
      keys.exists(k => b.mightContainLong(mixBloomKey(k)))))
  }

  /** [[readIndexVersionSemi]] PAST the driver-probe cutoff — the
    * documented DFP scale path made real: the O(|keys| · |files|) probe
    * loop that `maxKeys` kept explicit on the driver runs EXECUTOR-side
    * instead. The distinct key set is still collected and broadcast
    * (exactly the build side a broadcast join materializes anyway —
    * past broadcastable key sizes the right tool is the shuffle join,
    * not DFP, same as the driver variant documents); the bloom sidecar
    * entries ship to executors as an RDD of (file, filter) shards, each
    * partition probes its shard against the broadcast keys, and only
    * one BOOLEAN per file returns to the driver — metadata-scale,
    * independent of |keys|. Kept-set semantics are IDENTICAL to the
    * driver probe (same filters, same keys, no false negatives; a file
    * with no sidecar line is unprunable, never wrong). At a file count
    * where the single sidecar file itself is the bottleneck, the
    * sidecar shards (the documented evolution) and this path reads the
    * shards as its RDD input directly. Returns
    * (rows of kept files, keptList, filesTotal).
    * Subtracts the version's deletion-vector positions but not its id
    * tombstones; [[readIndexVersionVisible]] is the visible read.
    */
  def readIndexVersionSemiDist(spark: org.apache.spark.sql.SparkSession,
                               path: String, version: Int, colName: String,
                               keys: DataFrame)
      : (DataFrame, Seq[String], Int) = {
    val keyArr = keys.select(col(keys.columns.head).cast("long"))
      .where(col(keys.columns.head).isNotNull)
      .distinct().collect().map(_.getLong(0))
    require(keyArr.nonEmpty, "readIndexVersionSemiDist: need a key")
    val bcKeys = spark.sparkContext.broadcast(keyArr)
    val entries = bloomEntries(spark, path, version, colName)
    val probed = spark.sparkContext
      .parallelize(entries, math.max(1, math.min(entries.length, 32)))
      .mapPartitions { it =>
        val ks = bcKeys.value
        it.map { case (f, b64) =>
          val bf = decodeBloom(b64)
          (f, ks.exists(k => bf.mightContainLong(mixBloomKey(k))))
        }
      }
      .collect().toMap // one boolean per file — metadata-scale
    prunedScan(spark, path, version)(f => probed.getOrElse(f, true))
  }

  // ----------------------------------------------- deletion vectors (DV)

  /** The deletion-vector sidecar of `version`, if its manifest references
    * one: a tiny parquet of `(file: string, pos: long)` — positions are
    * parquet row indexes WITHIN the named data file. Resolution is via
    * the `dv` manifest header, never by probing `_dv/` (same
    * orphan-invisibility argument as [[readDeletes]]).
    */
  def readDeletionVector(spark: org.apache.spark.sql.SparkSession,
                         path: String, version: Int): Option[DataFrame] =
    snapshot(spark, path, version).deletionVector(spark)

  /** Commit a POSITION delete (deletion vector): rows of `fromVersion`
    * matching `doomed` are marked by `(file, row-index)` in a sidecar
    * (`_dv/v{N}`), and the new version carries `fromVersion`'s file list
    * UNCHANGED plus the sidecar pointer — the Delta deletion-vector /
    * Iceberg position-delete design (public literature). This is the
    * delete the key-tombstone path ([[commitDeletes]]) cannot express:
    * `doomed` is an ARBITRARY predicate over the rows (no key column
    * required, duplicates within a key deletable individually), and the
    * read-side subtraction joins on `(file, pos)` — metadata the scan
    * produces for free (`_metadata.file_path` / `row_index`) — never on
    * a data column. Pending positions at `fromVersion` are folded in, so
    * one sidecar per version describes ALL its deletes (sidecars are
    * delete-sized; reading one beats chaining N).
    *
    * Commit cost at 100 TB: one predicate scan of the version (the
    * predicate prunes/pushes down like any filter) writing a
    * positions-sized sidecar — zero data files rewritten. The crash
    * window (sidecar written, manifest not) leaves an unreferenced
    * `_dv/` directory no reader can observe; the retry's overwrite
    * reclaims it (same single-commit-point discipline as
    * [[commitDeletes]]).
    *
    * Returns (nNewPositions, nTotalPositions) — the total observed in
    * the sidecar write's own job, the pending count from `fromVersion`'s
    * `dvcount` header (counted from its sidecar only without one): no
    * re-read, and no re-scan of the corpus.
    */
  def commitDeletionVector(spark: org.apache.spark.sql.SparkSession,
                           path: String, fromVersion: Int, toVersion: Int,
                           doomed: Column,
                           meta: Map[String, String] = Map.empty)
      : (Long, Long) = {
    refuseCommitted(spark, path, toVersion)
    val from = snapshot(spark, path, fromVersion)
    val files = from.files
    val fresh = scan(spark, from, files)
      .where(doomed)
      .select(
        substring_index(col("_metadata.file_path"), "/", -2).as("file"),
        col("_metadata.row_index").cast("long").as("pos"))
    val pending = from.deletionVector(spark)
    val merged = pending.map(p => fresh.unionByName(
      p.select(col("file"), col("pos")))).getOrElse(fresh).distinct()
    // the sidecar write's own job counts the committed positions; the
    // pending count is from's dvcount header (counted only without one)
    val written = org.apache.spark.sql.Observation()
    val sidecarRel = writeVersionSidecar(spark, path, "_dv", toVersion,
      merged.observe(written, count(lit(1)).as("n")))
    val nTotal = written.get("n").asInstanceOf[Long]
    val nPending = pending.fold(0L)(p =>
      from.meta.get("dvcount").fold(p.count())(_.toLong))
    val consumed = Set("dv", "dvcount")
    if (nTotal == 0L) {
      // zero-match predicate over a no-pending history (ADVICE r12): an
      // EMPTY DV pointer is not a DV — committing it would leave a
      // version applyDeletes can never fully apply (the empty sidecar
      // carries verbatim through every rewrite split). The commit still
      // lands (the caller asked for a version), just with no dv header;
      // the empty sidecar dir stays unreferenced and invisible.
      commitVersion(spark, from, toVersion, files, Nil, consumed,
        Map("op" -> "dv-delete") ++ meta)
      return (0L, 0L)
    }
    // dvcount rides the header so metadata-only counts stay servable
    // under DVs (position cardinality is exact — every position kills
    // exactly one row; the Delta stats-with-DV design)
    // the other carried-state keys (pending id tombstones, column
    // mappings) ride along — a DV delete on top of a tombstone delete
    // must not resurrect the tombstoned ids
    commitVersion(spark, from, toVersion, files, Nil, consumed,
      Map("op" -> "dv-delete") ++ meta +
        ("dv" -> sidecarRel) + ("dvcount" -> nTotal.toString))
    (nTotal - nPending, nTotal)
  }

  /** Read a pinned version with its deletion vector applied: the
    * manifest's files, minus exactly the `(file, pos)` pairs the
    * version's DV names ([[subtractDv]]). A version with no DV reads as
    * a plain pinned read.
    */
  def readIndexVersionDv(spark: org.apache.spark.sql.SparkSession,
                         path: String, version: Int): DataFrame = {
    val snap = snapshot(spark, path, version)
    withoutDv(spark, snap, scan(spark, snap, snap.files))
  }

  // ------------------------------------------------------------ restore

  /** Roll the index BACK by rolling the history FORWARD: commit a new
    * version whose file list (and pending-tombstone pointer) is exactly
    * `restoreTo`'s — the Delta RESTORE design (public). Metadata-only:
    * zero data files move, the bad version stays pinned-readable for the
    * post-mortem (history is append-only; a restore that erased it would
    * destroy the audit trail exactly when it matters), and
    * [[ivfVacuum]] keeping HEAD automatically keeps the restored files.
    * Returns the new HEAD version.
    */
  def restoreVersion(spark: org.apache.spark.sql.SparkSession, path: String,
                     restoreTo: Int): Int = {
    val head = latestVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed version under $path"))
    require(restoreTo <= head,
      s"restoreVersion: v$restoreTo is not committed (head is v$head)")
    // a restore reproduces restoreTo's WHOLE logical state — its DV,
    // its column mappings — not just its tombstone pointer: restoring
    // past a rename must restore the old schema too
    val from = snapshot(spark, path, restoreTo)
    commitVersion(spark, from, head + 1, from.files, Nil, Set.empty,
      Map("op" -> "restore", "restore_of" -> restoreTo.toString))
    head + 1
  }

  // ------------------------------------- metadata-only aggregates

  /** Result of a metadata-answerable aggregate probe:
    * `servedFromMeta` says whether the numbers came from sidecars alone
    * (zero data files, zero footers opened) or from the fallback scan.
    */
  final case class MetaAgg(nRows: Long, min: Long, max: Long,
                           servedFromMeta: Boolean,
                           countFromMeta: Boolean,
                           empty: Boolean = false)

  /** Answer `count(*)` / `min(col)` / `max(col)` for a pinned version
    * WITHOUT opening a single data file — the lakehouse metadata-only
    * query (Delta/Iceberg/Snowflake answer `SELECT count(*)` from
    * snapshot statistics; public design): the row count sums the
    * commit-time `.stats` sidecar ([[writeStats]]) and min/max fold the
    * `.colstats` zone map ([[writeColStats]]). Two sidecar reads total —
    * at 100 TB the difference between a dashboard probe and a corpus
    * scan.
    *
    * HONESTY RULE — a metadata answer is served ONLY when it is provably
    * exact, and the caller is told which path ran:
    *  - pending tombstones (a `deletes` manifest pointer) make footer
    *    counts an overcount and zone bounds possibly stale (the extremal
    *    row may be the deleted one — tombstone ids are not even
    *    guaranteed to match rows, so no metadata correction exists);
    *  - a missing `.stats` / `.colstats` sidecar, a file absent from the
    *    zone map, or a file whose zones are the unprunable sentinel
    *    leave metadata unable to answer;
    *  in every such case the call FALLS BACK to the tombstone-applied
    *  scan and says so (`servedFromMeta = false`) — a fast wrong answer
    *  is a bug, and a silent scan behind a "metadata" API misprices the
    *  caller's query. This mirrors the stats-only restrictions every
    *  lakehouse documents (deletion vectors disable metadata counts).
    */
  def metaAgg(spark: org.apache.spark.sql.SparkSession, path: String,
              version: Int, colName: String, idCol: String): MetaAgg = {
    val snap = snapshot(spark, path, version)
    val (meta, files) = (snap.meta, snap.files)
    val hasTomb = meta.contains("deletes")
    val hasDv = meta.contains("dv")
    val statsOpt: Option[Map[String, Long]] =
      try Some(readStats(spark, path, version))
        .filter(c => files.forall(c.contains))
      catch { case _: java.io.IOException => None } // sidecar missing
    // COUNT survives DVs: position cardinality is exact (every position
    // kills exactly one row) and rides the dvcount header — the Delta
    // stats-with-DV design. Id tombstones don't (ids may match 0 rows).
    val dvCount: Option[Long] =
      if (!hasDv) Some(0L) else meta.get("dvcount").map(_.toLong)
    val countMeta: Option[Long] =
      if (hasTomb || files.isEmpty || statsOpt.isEmpty || dvCount.isEmpty)
        None
      else Some(files.map(statsOpt.get).sum - dvCount.get)
    // BOUNDS survive nothing: any delete may have held the extremal row
    val boundsMeta: Option[(Long, Long)] =
      if (hasTomb || hasDv || files.isEmpty) None
      else try {
        val zones = readColStats(spark, path, version, colName)
        val ok = files.forall(f => zones.get(f).exists(
          _ != (Long.MinValue, Long.MaxValue)))
        if (!ok) None
        else Some((files.map(f => zones(f)._1).min,
          files.map(f => zones(f)._2).max))
      } catch { case _: java.io.IOException => None }
    (countMeta, boundsMeta) match {
      case (Some(n), Some((mn, mx))) =>
        MetaAgg(n, mn, mx, servedFromMeta = true, countFromMeta = true)
      case _ =>
        // fallback scan with EVERY delete kind applied: DV positions
        // first (scan-metadata anti-join), then id tombstones
        val scanned = visible(spark, snap, idCol)
        val r = scanned.agg(count(lit(1)), min(col(colName).cast("long")),
          max(col(colName).cast("long"))).head()
        val n = countMeta.getOrElse(r.getLong(0))
        if (r.isNullAt(1) || r.isNullAt(2))
          // every row deleted (or the column all-null): min/max do not
          // exist — an explicit empty verdict, never an NPE and never
          // invented sentinel bounds
          MetaAgg(n, 0L, 0L, servedFromMeta = false,
            countFromMeta = countMeta.isDefined, empty = true)
        else
          MetaAgg(n, r.getLong(1), r.getLong(2),
            servedFromMeta = false, countFromMeta = countMeta.isDefined)
    }
  }

  // --------------------------------- column mapping (metadata renames)

  /** RENAME a column without touching a byte of data — the Delta
    * column-mapping feature (public design: logical names resolve
    * through a mapping carried in table metadata, so a rename is one
    * metadata commit instead of a corpus rewrite, which at 100 TB is
    * the difference between instant and a day of I/O). The mapping
    * `physical → logical` rides the manifest header (`colmap`, entries
    * `phys=logical` comma-joined) on a NEW version whose FILE LIST IS
    * THE OLD ONE: pinned readers of older versions keep the old schema,
    * the new version serves the logical names, and the sidecar pointers
    * (tombstones, DVs — keyed by physical columns) carry forward
    * untouched. Two renames landing on one logical name are refused —
    * a silent collision would shadow a column; colliding with an
    * UNMAPPED physical column is the caller's check (the physical
    * schema lives in the data files, which this metadata-only commit
    * deliberately never opens).
    */
  def renameColumns(spark: org.apache.spark.sql.SparkSession, path: String,
                    fromVersion: Int, toVersion: Int,
                    renames: Map[String, String]): Unit = {
    require(renames.nonEmpty, "renameColumns: need at least one rename")
    renames.foreach { case (p, l) =>
      require(!p.contains('=') && !p.contains(',') &&
        !l.contains('=') && !l.contains(','),
        s"renameColumns: names must not contain '=' or ',': $p -> $l") }
    val from = snapshot(spark, path, fromVersion)
    val prior = from.columnMapping
    // compose with any existing mapping: rename the LOGICAL name a
    // reader sees, keyed back to its physical column
    val physOf = prior.map { case (phys, logical) => logical -> phys }
    val composed = prior ++ renames.map { case (from, to) =>
      physOf.getOrElse(from, from) -> to }
    val logicals = composed.values.toSeq
    require(logicals.distinct.length == logicals.length,
      s"renameColumns: logical-name collision in $composed")
    commitVersion(spark, from, toVersion, from.files, Nil, Set("colmap"),
      Map("op" -> "rename",
        "colmap" -> composed.toSeq.sorted
          .map { case (p, l) => s"$p=$l" }.mkString(",")))
  }

  /** DROP a column without touching a byte of data — the second half of
    * metadata-only ALTER TABLE (Delta drops columns via column mapping,
    * public design; the bytes stay in the files, readers stop seeing
    * them, and a later rewrite physically sheds them for free). The
    * dropped PHYSICAL names ride the manifest header (`coldrop`,
    * comma-joined) on a version whose file list is the old one; pinned
    * older versions keep serving the column. Dropping a column that a
    * rename maps is refused (drop the logical name's physical column —
    * resolve it first); dropping the MOR id column would break
    * tombstone subtraction and is the caller's foot-gun to avoid, same
    * as every physical-keyed sidecar.
    */
  def dropColumns(spark: org.apache.spark.sql.SparkSession, path: String,
                  fromVersion: Int, toVersion: Int,
                  physCols: Seq[String]): Unit = {
    require(physCols.nonEmpty, "dropColumns: need at least one column")
    physCols.foreach(c => require(!c.contains(',') && !c.contains('='),
      s"dropColumns: names must not contain ',' or '=': $c"))
    val from = snapshot(spark, path, fromVersion)
    val clash = physCols.toSet.intersect(from.columnMapping.keySet)
    require(clash.isEmpty,
      s"dropColumns: $clash are renamed columns — drop the physical " +
        "name after removing its mapping, not both at once")
    commitVersion(spark, from, toVersion, from.files, Nil, Set("coldrop"),
      Map("op" -> "dropcol", "coldrop" ->
        (from.droppedColumns ++ physCols).distinct.sorted.mkString(",")))
  }

  /** The physical columns dropped as of `version` (empty when none). */
  def droppedColumns(spark: org.apache.spark.sql.SparkSession,
                     path: String, version: Int): Seq[String] =
    snapshot(spark, path, version).droppedColumns

  /** The column mapping of `version` (physical → logical), empty when
    * the version predates any rename. */
  def columnMapping(spark: org.apache.spark.sql.SparkSession, path: String,
                    version: Int): Map[String, String] =
    snapshot(spark, path, version).columnMapping

  /** [[readIndexVersionMor]] with the version's column mapping applied —
    * the logical-schema read: physical columns rename to their mapped
    * logical names at PLAN time (zero data I/O for the mapping itself);
    * tombstone subtraction happens on the physical id column first,
    * because sidecars are keyed physically by design.
    */
  def readIndexVersionLogical(spark: org.apache.spark.sql.SparkSession,
                              path: String, version: Int,
                              physIdCol: String): DataFrame = {
    val snap = snapshot(spark, path, version)
    val base = visible(spark, snap, physIdCol)
    val dropped = snap.droppedColumns.filter(base.columns.contains)
    val undropped =
      if (dropped.isEmpty) base else base.drop(dropped: _*)
    snap.columnMapping.foldLeft(undropped) {
      case (df, (phys, logical)) => df.withColumnRenamed(phys, logical)
    }
  }

  // ------------------------------------ NDV sketch sidecars (ANALYZE)

  /** The KMV hash shared with the oracle: first 8 md5 hex nibbles of
    * `"n:<value>"` + 1 over 2³² — an exact power-of-two-denominator
    * double both engines compute bit-identically (the q_kmv_sketch
    * construction).
    */
  def kmvHash(c: Column): Column =
    (conv(substring(md5(concat_ws(":", lit("n"), c)), 1, 8), 16, 10)
      .cast("long") + 1L).cast("double") / lit(4294967296.0)

  /** Commit-time per-file NDV (KMV/theta) sketches —
    * `ANALYZE TABLE ... FOR COLUMNS`, the lakehouse way (Iceberg's
    * theta-sketch NDV blobs in puffin files, public design): each data
    * file's k smallest distinct column-hash values land in a
    * `v{N}.ndv.{col}` sidecar with the manifest commit discipline. KMV
    * sketches merge EXACTLY (a hash among the global k smallest is
    * within its own file's k smallest by rank monotonicity — union,
    * dedup, take k), so per-file sketches roll up to the table estimate
    * with zero loss vs sketching the whole table, file-incrementally.
    * Cost: ONE column-projected scan grouped by file (k values per file
    * cross the wire after the bounded [[graft.expr.TopKByScore]]
    * combine); the sketch is k doubles per file regardless of file size.
    * Hashes are stored as their exact 2³²-denominator NUMERATORS — the
    * serialization round-trips bit-exactly.
    */
  def writeNdvSketch(spark: org.apache.spark.sql.SparkSession, path: String,
                     version: Int, colName: String, k: Int = 64): Unit = {
    val files = readManifest(spark, path, version)
    val topk = udaf(new graft.expr.TopKByScore(k))
    val perFile =
      if (files.isEmpty) Seq.empty[(String, Seq[Double])]
      else readFiles(spark, path, files)
        .select(substring_index(input_file_name(), "/", -2).as("f"),
          kmvHash(col(colName)).as("h"))
        .distinct() // KMV is over the distinct value set
        .groupBy(col("f"))
        .agg(topk(-col("h"), lit(0L), lit(0L), lit(0L), lit(0L), lit(0.0))
          .as("tk"))
        .select(col("f"), expr("transform(tk, e -> -e.score)").as("hs"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq)
        .toSeq.sortBy(_._1)
    commitSidecar(spark, path, f"v$version%05d.ndv.$colName",
      s"#k:$k" +: perFile.map { case (f, hs) =>
        s"$f\t${hs.map(h => (h * 4294967296.0).toLong).mkString(",")}" },
      s"ndv sketch v$version($colName)")
  }

  /** The committed NDV sketches of `version` for `colName`:
    * (k, file → ascending exact hash doubles). Loud on a missing
    * sidecar, like every other sidecar reader.
    */
  def readNdvSketch(spark: org.apache.spark.sql.SparkSession, path: String,
                    version: Int, colName: String)
      : (Int, Map[String, Seq[Double]]) = {
    val all = fileLines(spark, new org.apache.hadoop.fs.Path(path,
      f"_manifests/v$version%05d.ndv.$colName"))
    val k = all.headOption.filter(_.startsWith("#k:"))
      .map(_.stripPrefix("#k:").toInt)
      .getOrElse(throw new IllegalStateException(
        s"ndv sidecar missing its #k header under $path v$version"))
    val m = all.tail.map { l =>
      val i = l.indexOf('\t')
      val nums = l.drop(i + 1)
      l.take(i) -> (if (nums.isEmpty) Seq.empty[Double]
                    else nums.split(',').toSeq
                      .map(_.toLong.toDouble / 4294967296.0))
    }.toMap
    (k, m)
  }

  /** Table-level NDV estimate from the committed per-file sketches —
    * union, dedup, k smallest, (k−1)/h₍ₖ₎ (Bar-Yossef et al., public
    * literature); a merged set smaller than k IS the exact distinct
    * count (every file contributed its whole value set). Metadata-only:
    * one sidecar read, zero data files. Returns (estimate, mergedVals)
    * so audits can pin the merge bit-exact against a whole-table sketch.
    */
  def ndvEstimate(spark: org.apache.spark.sql.SparkSession, path: String,
                  version: Int, colName: String): (Double, Seq[Double]) = {
    val (k, sketches) = readNdvSketch(spark, path, version, colName)
    val merged = sketches.values.flatten.toSeq.distinct.sorted.take(k)
    val est =
      if (merged.length < k) merged.length.toDouble
      else (k - 1).toDouble / merged(k - 1)
    (est, merged)
  }

  // ------------------------------------- commit-time CHECK constraints

  /** Violation counts for named CHECK constraints over STAGED files —
    * one scan of only the staged bytes (never the corpus), all
    * constraints folded into a single aggregate pass. SQL-standard CHECK
    * semantics: a row violates a constraint iff the expression evaluates
    * to FALSE — a NULL result satisfies (NOT NULL is therefore an
    * explicit constraint, `col.isNotNull`, exactly as every SQL engine
    * requires it to be).
    */
  def checkConstraints(spark: org.apache.spark.sql.SparkSession,
                       path: String, files: Seq[String],
                       constraints: Seq[(String, Column)])
      : Map[String, Long] = {
    require(constraints.nonEmpty, "checkConstraints: need a constraint")
    if (files.isEmpty) return constraints.map(_._1 -> 0L).toMap
    val staged = readFiles(spark, path, files)
    val aggs = constraints.map { case (name, cond) =>
      sum(when(coalesce(cond.cast("boolean"), lit(true)), 0L)
        .otherwise(1L)).as(name) }
    val r = staged.agg(aggs.head, aggs.tail: _*).head()
    constraints.zipWithIndex
      .map { case ((name, _), i) => name -> r.getLong(i) }.toMap
  }

  /** Register TABLE-LEVEL CHECK constraints as versioned metadata — the
    * Delta table-property model (public design): one metadata-only
    * commit carries the named SQL predicates in the `checks` manifest
    * header (base64 over `name<TAB>expr` lines — header values must be
    * newline-free), and because `checks` is in [[CarriedKeys]] EVERY
    * later writer inherits and enforces them with no per-writer wiring —
    * the uniformity that makes "this writer forgot to validate"
    * structurally impossible. Enforce-on-write semantics (Delta's
    * behavior adding a constraint without validation): registering does
    * NOT scan history; existing violating rows surface the moment any
    * rewrite tries to re-commit them. An empty `checks` unsets.
    * Expressions reference PHYSICAL column names (the staged files'
    * schema), like every physical-keyed sidecar.
    */
  def setTableChecks(spark: org.apache.spark.sql.SparkSession, path: String,
                     fromVersion: Int, toVersion: Int,
                     checks: Seq[(String, String)]): Unit = {
    checks.foreach { case (n, e) =>
      require(!n.contains('\t') && !n.contains('\n') && !e.contains('\n'),
        s"setTableChecks: no tabs in names / newlines anywhere: $n") }
    val from = snapshot(spark, path, fromVersion)
    commitVersion(spark, from, toVersion, from.files, Nil, Set("checks"),
      Map("op" -> "setcheck") ++ (if (checks.isEmpty) Nil else Seq("checks" ->
        java.util.Base64.getEncoder.encodeToString(
          checks.map { case (n, e) => s"$n\t$e" }.mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
  }

  /** Refuse `what` loudly (IllegalStateException naming each failed
    * constraint with its exact row count) when any of `files` violates
    * `constraints` ([[checkConstraints]]: one scan of only those files)
    * — the one violation check behind [[commitVersion]]'s table checks
    * and [[commitFilesChecked]]. Cost ∝ the files' bytes.
    */
  private def requireChecks(spark: org.apache.spark.sql.SparkSession,
                            path: String, files: Seq[String],
                            constraints: Seq[(String, Column)],
                            what: String): Unit = {
    val violations = checkConstraints(spark, path, files, constraints)
      .filter(_._2 > 0L)
    if (violations.nonEmpty)
      throw new IllegalStateException(
        s"$what refused — CHECK constraint violations: " +
          violations.toSeq.sortBy(_._1)
            .map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
  }

  /** [[commitFilesOcc]] gated by CHECK constraints — the write-side
    * validation every governed table needs (the Delta CHECK-constraint /
    * NOT-NULL enforcement design, public): the staged files are
    * validated in ONE scan BEFORE the manifest create, and a violation
    * REFUSES the commit loudly (IllegalStateException naming each failed
    * constraint with its exact row count) — the staged files stay
    * unreferenced and invisible (no manifest lists them; vacuum reclaims
    * them like any crashed append), so a reader can never observe a row
    * that failed its table's invariants. Validation cost ∝ the BATCH's
    * bytes: the corpus is never re-scanned, which is what makes
    * commit-time enforcement affordable at 100 TB — the alternative
    * (audit after commit) leaves a window where bad rows serve.
    */
  def commitFilesChecked(spark: org.apache.spark.sql.SparkSession,
                         path: String, newFiles: Seq[String],
                         constraints: Seq[(String, Column)],
                         meta: Map[String, String] = Map.empty): OccCommit = {
    requireChecks(spark, path, newFiles, constraints, "commit")
    commitFilesOcc(spark, path, newFiles, meta)
  }

  // --------------------------------- norm-bound-pruned exact MIPS top-k

  /** EXACT maximum-inner-product top-k with norm-bound FILE skipping —
    * the Cauchy–Schwarz pruning every MIPS system builds on (public
    * literature: norm-ordered / norm-range partitioned indexes, e.g.
    * LEMP / FEXIPRO family): `dot(q, x) <= |q|·|x|`, so on a layout
    * range-clustered by vector norm (with per-file max norms committed
    * as a `norm_micro` zone map — MIPS pruning IS zone-map skipping on
    * the norm column) files are scanned in DESCENDING max-norm waves,
    * a running kth-best score θ is maintained, and scanning stops the
    * moment the next file's bound `|q|·maxNorm` drops below θ − slack:
    * no vector in an unopened file can reach the top-k, so the result
    * is EXACT, not approximate. On a 100 TB corpus whose norms spread
    * (weighted retrieval, unnormalized embeddings), the scan touches
    * the few high-norm files instead of everything — and when norms
    * are flat it degrades to the full scan, correct either way.
    *
    * `slack` absorbs two roundings conservatively (scan MORE, never
    * less): the zone map stores `round(norm·1e6)` and the caller
    * compares result scores after `round(·, 4)` — both far below the
    * default 1e-3.
    *
    * Driver cost: one sidecar read + one tiny top-k collect per wave
    * (k doubles each); waves bound the number of Spark jobs. Returns
    * (topk rows `(idCol, score)`, filesOpened, filesTotal).
    */
  def mipsTopK(spark: org.apache.spark.sql.SparkSession, path: String,
               version: Int, idCol: String, vecCol: String,
               query: Seq[Double], k: Int, waveSize: Int = 8,
               slack: Double = 1e-3): (DataFrame, Int, Int) = {
    require(k >= 1 && waveSize >= 1, "mipsTopK: k and waveSize >= 1")
    val files = readManifest(spark, path, version)
    val zones = readColStats(spark, path, version, "norm_micro")
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val qLit = typedLit(query)
    def scoreOf(df: DataFrame) =
      df.select(col(idCol), dotHof(col(vecCol), qLit).as("score"))
    // descending max-norm order; a file with no zone sorts FIRST
    // (unprunable — it must be scanned before any bound can exclude it)
    val ordered = files.sortBy(f =>
      -zones.get(f).map(_._2).getOrElse(Long.MaxValue).toDouble)
    var remaining = ordered
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var top = Vector.empty[Double] // k best scores seen, driver-side
    def theta = if (top.length >= k) top.min else Double.NegativeInfinity
    while (remaining.nonEmpty && {
        val mx = zones.get(remaining.head).map(_._2)
          .getOrElse(Long.MaxValue)
        // top.length < k: fewer than k SCORES seen so far — θ is not yet
        // a kth-best and nothing may be excluded
        top.length < k || qNorm * (mx.toDouble / 1e6) >= theta - slack
      }) {
      val wave = remaining.take(waveSize)
      remaining = remaining.drop(waveSize)
      kept ++= wave
      val waveTop = scoreOf(readFiles(spark, path, wave))
        .orderBy(col("score").desc).limit(k)
        .collect().map(_.getDouble(1))
      top = (top ++ waveTop).sorted(Ordering[Double].reverse).take(k)
    }
    val rows = scoreOf(readFiles(spark, path, kept.toSeq))
      .select(col(idCol), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
    (rows, kept.length, files.length)
  }

  // ----------------------------------------------- three-clause MERGE

  /** Full three-clause MERGE as ONE atomic commit — the statement every
    * lakehouse user writes (`MERGE INTO target USING source ON
    * target.id = source.id WHEN MATCHED AND <deleteCond> THEN DELETE
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`;
    * Delta/Iceberg MERGE contract, public design). [[ivfUpsert]] covers
    * the two-clause upsert; the delete clause is what it cannot compose
    * (a delete commit followed by an upsert commit exposes readers to
    * the in-between state — MERGE's whole point is that one manifest
    * create lands all three effects together).
    *
    * Source rows are STAGED FIRST in one pass (`source` may be an
    * arbitrarily expensive plan — a re-embedding join, a micro-batch —
    * and is consumed exactly once); every later step reads the staged
    * bytes. Duplicate source ids are refused loudly (the "multiple
    * source rows matched" error every MERGE implementation raises —
    * applying two clauses to one target row is undefined). Clause
    * semantics on the staged rows, with `deleteCond` evaluated
    * null-as-false:
    *  - matched ∧ deleteCond   → row removed (copy-on-write purge);
    *  - matched ∧ ¬deleteCond  → row replaced with the source vector;
    *  - unmatched ∧ ¬deleteCond → row inserted;
    *  - unmatched ∧ deleteCond  → no-op (DELETE only fires on a match).
    *
    * Copy-on-write like the upsert: hot partitions are those PHYSICALLY
    * holding a touched id (batch-sized semi-join); each is
    * rewritten dropping every touched id; insert/update rows land as
    * new files; ONE manifest commits removes+replaces+inserts together.
    * Pending tombstones carry forward minus the upserted ids
    * (resurrection by intent); matched deletes need no new tombstones —
    * they are physically gone from the rewritten partitions. Rewrites
    * remove files, so this path is single-writer like [[ivfUpsert]],
    * and like it a stale merge is refused ("already committed") without
    * touching the version that won. Cost: the source's bytes + the hot
    * partitions' bytes; a source of brand-new ids degenerates to a pure
    * append.
    *
    * Returns (partitionsRewritten, nUpdated, nDeleted, nInserted) —
    * matched-visible updates, matched-visible deletes, and true inserts
    * (staged upsert rows minus matched), each exact.
    */
  def ivfMerge(spark: org.apache.spark.sql.SparkSession, path: String,
               fromVersion: Int, toVersion: Int, source: DataFrame,
               deleteCond: Column, centroids: Array[Array[Double]],
               idCol: String, vecCol: String,
               extraMeta: Map[String, String] = Map.empty)
      : (Int, Long, Long, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val from = snapshot(spark, path, fromVersion)
    // ONE pass over the caller's plan: stage (id, vec, delete-flag)
    val srcRel = s"_staging/merge_src_$toVersion"
    source.select(col(idCol), col(vecCol),
        coalesce(deleteCond, lit(false)).as("__del"))
      .write.mode("overwrite").parquet(s"$path/$srcRel")
    val staged = Tables.parquet(spark, s"$path/$srcRel")
    val (nSrc, nSrcIds) = {
      val r = staged.agg(count(lit(1)), countDistinct(col(idCol))).head()
      (r.getLong(0), r.getLong(1))
    }
    require(nSrc == nSrcIds,
      s"ivfMerge: duplicate source ids (${nSrc - nSrcIds} extra rows) — " +
        "applying two MERGE clauses to one target row is undefined")
    val delIds = staged.filter(col("__del")).select(col(idCol)).distinct()
    val upsRows = staged.filter(!col("__del")).select(col(idCol), col(vecCol))
    val upsIds = staged.filter(!col("__del")).select(col(idCol)).distinct()
    // land the insert/update rows as new files (nothing visible yet)
    val newFiles = landAssigned(spark, path, upsRows, centroids, idCol,
      vecCol, s"_staging/merge_$toVersion", s"merge$toVersion",
      Some(toVersion))
    // visibility applies BOTH delete kinds — a DV-hidden row must not
    // count as updated or deleted (it is already gone to every reader)
    val seen = visible(spark, from, idCol)
    val nUpdated = seen.join(upsIds, Seq(idCol), "left_semi").count()
    val nDeleted = seen.join(delIds, Seq(idCol), "left_semi").count()
    val nInserted = upsRows.count() - nUpdated
    // every touched id leaves the hot partitions; only the UPSERTED ids
    // leave the carried tombstones (matched deletes are physical)
    val rewritten = copyOnWrite(spark, from, toVersion, "merge", "merged",
      staged.select(col(idCol)).distinct(), upsIds, idCol,
      newFiles, extraMeta)
    fs.delete(new HPath(path, srcRel), true)
    (rewritten, nUpdated, nDeleted, nInserted)
  }
}
