package graft.operators

import graft.functions.{HashExpressions => HE, VectorFunctions => VF}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the
  * centroid-partitioned scale path for similarity search, next to
  * [[KnnOps.lshTopK]]'s hyperplane variant.
  *
  * Build: Lloyd's k-means (k-means++ seeded) over a BOUNDED driver
  * sample fits `nLists` coarse centroids — the coarse quantizer
  * needs only a representative sample, never the full corpus, so
  * the fit is O(sample·k·dim) on the driver with zero cluster jobs
  * beyond the one sample-collect. Every corpus vector is then
  * assigned to its nearest centroid in ONE distributed pass
  * ([[NearestCentroid]], centroids carried inside the expression —
  * no join); that assignment is the inverted file, and on disk it
  * is simply a `partitionBy("list_id")` parquet layout so a probe
  * only READS the probed lists (partition pruning does the index
  * lookup).
  *
  * Query: each query probes its `nProbe` nearest centroids (tiny
  * broadcast compare) and scores only vectors in those lists —
  * corpus-side work drops by ~nLists/nProbe vs brute force.
  */
object IvfKnnOps {

  final case class IvfIndex(centroids: Array[(Int, Array[Double])], assigned: DataFrame)

  /** argmin assignment — public: invoked from generated code. */
  def nearestCentroidKernel(arr: ArrayData, centroids: Array[Array[Double]], elemIsFloat: Boolean): Int = {
    val n = arr.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i); i += 1 }
    nearest(v, centroids)
  }

  /** argmin_c L2²(vec, centroids(c)) as a Catalyst expression —
    * the centroid table rides in the expression (it is tiny:
    * nLists·dim doubles, carried into generated code as a reference
    * object), so assignment is a zero-shuffle map that inlines into
    * whole-stage codegen with the scan feeding it.
    */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "nearest_centroid"
    override protected def withNewChildInternal(newChild: Expression): NearestCentroid = copy(child = newChild)

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any =
      java.lang.Integer.valueOf(nearestCentroidKernel(input.asInstanceOf[ArrayData], centroids, elemIsFloat))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centRef = ctx.addReferenceObj("graftCentroids", centroids, "double[][]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.operators.IvfKnnOps.nearestCentroidKernel($a, $centRef, $elemIsFloat);")
    }
  }

  def topNearestCentroidsKernel(arr: ArrayData, centroids: Array[Array[Double]], n: Int, elemIsFloat: Boolean): ArrayData = {
    val d = arr.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) { v(i) = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i); i += 1 }
    val dists = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val dd = math.min(v.length, cent.length)
      var acc = 0.0
      var j = 0
      while (j < dd) { val x = v(j) - cent(j); acc += x * x; j += 1 }
      dists(c) = acc
      c += 1
    }
    val k = math.min(n, centroids.length)
    val out = new Array[Any](k)
    val used = new Array[Boolean](centroids.length)
    var s = 0
    while (s < k) {
      var best = -1
      var bestD = Double.MaxValue
      var t = 0
      while (t < dists.length) {
        if (!used(t) && (dists(t) < bestD || (dists(t) == bestD && (best < 0 || t < best)))) {
          bestD = dists(t); best = t
        }
        t += 1
      }
      used(best) = true
      out(s) = java.lang.Integer.valueOf(best)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The `n` nearest centroid ids by L2², distance-ordered (ties by
    * id) — the multi-probe generalization of [[NearestCentroid]]:
    * SemDeDup-style bucketed comparison misses a near-identical pair
    * straddling a Voronoi boundary under single assignment; probing
    * the 2 nearest buckets makes boundary twins co-bucket. Same
    * zero-shuffle codegen'd scan assignment.
    */
  case class TopCentroids(child: Expression, centroids: Array[Array[Double]], n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "top_centroids"
    override protected def withNewChildInternal(newChild: Expression): TopCentroids = copy(child = newChild)

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any =
      topNearestCentroidsKernel(input.asInstanceOf[ArrayData], centroids, n, elemIsFloat)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centRef = ctx.addReferenceObj("graftCentroidsN", centroids, "double[][]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.operators.IvfKnnOps.topNearestCentroidsKernel($a, $centRef, $n, $elemIsFloat);")
    }
  }

  private def nearest(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val d = math.min(v.length, cent.length)
      var acc = 0.0
      var i = 0
      while (i < d && acc < bestD) { val x = v(i) - cent(i); acc += x * x; i += 1 }
      if (i == d && acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** Seeded k-means++ init then Lloyd's over the sample. */
  private[operators] def lloyds(sample: Array[Array[Double]], k: Int, maxIter: Int, seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty sample for k-means")
    val dim = sample(0).length
    val rng = new java.util.Random(seed)
    val kk = math.min(k, sample.length)
    // k-means++ seeding: next center ∝ squared distance to nearest chosen
    val centers = new Array[Array[Double]](kk)
    centers(0) = sample(rng.nextInt(sample.length)).clone()
    val d2 = Array.fill(sample.length)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0
      while (i < sample.length) {
        val prev = centers(c - 1)
        var acc = 0.0
        var j = 0
        while (j < dim) { val x = sample(i)(j) - prev(j); acc += x * x; j += 1 }
        if (acc < d2(i)) d2(i) = acc
        i += 1
      }
      val total = d2.sum
      var pick = rng.nextDouble() * total
      var idx = 0
      while (idx < sample.length - 1 && pick > d2(idx)) { pick -= d2(idx); idx += 1 }
      centers(c) = sample(idx).clone()
      c += 1
    }
    // Lloyd's iterations
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.ofDim[Double](kk, dim)
      val counts = new Array[Long](kk)
      var i = 0
      while (i < sample.length) {
        val a = nearest(sample(i), centers)
        val s = sums(a)
        var j = 0
        while (j < dim) { s(j) += sample(i)(j); j += 1 }
        counts(a) += 1
        i += 1
      }
      var moved = false
      var cc = 0
      while (cc < kk) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < dim) {
            val m = sums(cc)(j) / counts(cc)
            if (m != centers(cc)(j)) { centers(cc)(j) = m; moved = true }
            j += 1
          }
        } else {
          // empty cluster: reseed from a random sample point
          centers(cc) = sample(rng.nextInt(sample.length)).clone(); moved = true
        }
        cc += 1
      }
      iter += 1
      if (!moved) iter = maxIter
    }
    // pad if sample had fewer points than k (degenerate tiny input)
    if (kk < k) centers ++ Array.fill(k - kk)(centers(0).clone()) else centers
  }

  /** Bounded vector sample SPREAD across partitions (a global
    * limit() is a storage-order prefix — on date/tenant-clustered
    * layouts a quantizer would only ever see the first files).
    * Per-partition prefixes of maxSample/P rows cover every file;
    * one job, no count. Null vectors are skipped (they would NPE
    * the collect).
    */
  /** Bounded driver-collected fit sample, LAYOUT-INVARIANT: rows
    * ranked by a hash of the vector itself and taken via
    * orderBy+limit — Spark plans TakeOrderedAndProject (per-
    * partition top-k, driver merge of ≤ maxSample rows), never a
    * full sort. The previous first-rows-per-partition sample was
    * bounded but PARTITION-LAYOUT-DEPENDENT: the same corpus
    * repartitioned yielded different centroids. Hash order is also
    * a pseudo-random shuffle — exactly what k-means init wants.
    */
  private[operators] def sampleVectors(df: DataFrame, vecCol: String, maxSample: Int): Array[Array[Double]] = {
    // maxSample ≤ 0 = "use the session conf" (spark.graft.ann.fitMaxSample,
    // default 65536) — every public fit entry point defaults through here.
    val cap =
      if (maxSample > 0) maxSample
      else graft.GraftConf.annFitMaxSample(df.sparkSession)
    df.select(col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("__r", xxhash64(to_json(col("__v"))))
      .orderBy(col("__r"))
      .limit(cap)
      .collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Fit centroids and assign every corpus row to a list.
    * `assigned` = corpus + `list_id`; persist it partitioned by
    * list_id for probe-time partition pruning.
    *
    * @param maxSample upper bound on driver-collected fit vectors
    *                  (bounds driver memory at any corpus scale)
    */
  def buildIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      seed: Long = 42L,
      sampleFraction: Double = 1.0,
      maxIter: Int = 10,
      maxSample: Int = -1 /* ≤0 → spark.graft.ann.fitMaxSample */
  ): IvfIndex = {
    val sampled = if (sampleFraction < 1.0) corpus.sample(sampleFraction, seed) else corpus
    val sample = sampleVectors(sampled, vecCol, maxSample)
    val centers = lloyds(sample, nLists, maxIter, seed)
    val centroids = centers.zipWithIndex.map { case (cn, i) => (i, cn) }
    val assigned = corpus.withColumn(
      "list_id",
      ColumnBridge.column(NearestCentroid(ColumnBridge.expression(col(vecCol)), centers)))
    IvfIndex(centroids, assigned)
  }

  /** Persist the inverted file partitioned by list — the on-disk
    * index layout. A probe that filters `list_id IN (...)` then
    * only LISTS and READS the probed partitions (Catalyst partition
    * pruning is the index lookup; no custom reader needed).
    */
  def saveIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite").partitionBy("list_id").parquet(s"$path/lists")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toSeq.toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  private def assignWith(df: DataFrame, vecCol: String, centers: Array[Array[Double]]): DataFrame =
    df.withColumn("list_id",
      ColumnBridge.column(NearestCentroid(ColumnBridge.expression(col(vecCol)), centers)))

  /** Incremental index maintenance: assign NEW vectors against the
    * FROZEN coarse quantizer and union them into the inverted file —
    * no refit, no reshuffle of existing lists. The standard IVF
    * append shape: recall degrades only as the data distribution
    * drifts from the fitted centroids; refit offline (a fresh
    * [[buildIndex]]) when it does.
    */
  def appendToIndex(index: IvfIndex, rows: DataFrame, vecCol: String): IvfIndex = {
    val centers = index.centroids.sortBy(_._1).map(_._2)
    index.copy(assigned = index.assigned.unionByName(assignWith(rows, vecCol, centers)))
  }

  /** Same, against a PERSISTED index: the append write touches only
    * the list partitions the new rows land in (dynamic partition
    * append), so maintaining a 100-TB inverted file costs
    * O(new rows), not a rewrite.
    */
  def appendToSavedIndex(spark: SparkSession, path: String, rows: DataFrame, vecCol: String): Unit = {
    val centers = spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map(_._2)
    assignWith(rows, vecCol, centers)
      .write.mode("append").partitionBy("list_id").parquet(s"$path/lists")
  }

  /** STREAMING index maintenance: keep a persisted inverted file
    * current from a vector stream — each microbatch assigns its new
    * vectors against the FROZEN coarse quantizer and dynamic-
    * partition-appends only the lists they land in (the
    * [[appendToSavedIndex]] shape per trigger, checkpointed).
    * Queries against [[loadIndex]] see appended vectors from the
    * next read — the standard incremental-ANN serving loop: stream
    * appends online, refit offline when drift degrades recall
    * (watch it with [[graft.operators.KnnOps.recallAtK]]).
    *
    * foreachBatch parquet appends are at-least-once under trigger
    * retry (a re-run batch re-appends); dedupe on read with a
    * `dropDuplicates(idCol)` if the source cannot guarantee
    * effectively-once delivery.
    *
    * @return the started StreamingQuery (caller owns lifecycle)
    */
  def maintainSavedIndexStream(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      vecCol: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(rows.isStreaming, "maintainSavedIndexStream needs a streaming frame; use appendToSavedIndex for batch")
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // centroids re-resolve PER TRIGGER (one tiny driver read), so
        // a refit fired BETWEEN this stream's batches — the in-loop
        // trigger of [[maintainSavedIndexStreamWithRefit]], or an
        // external one run while this stream is PAUSED — is picked up
        // at the next batch instead of appending against stale
        // geometry. This does NOT make a refit that runs CONCURRENTLY
        // with an active batch safe: rows appended between the
        // refit's corpus read and its swap are dropped with the old
        // layout (see [[refitSavedIndex]]'s quiesce contract).
        val centers = loadCenters(spark, path)
        assignWith(batch, vecCol, centers)
          .write.mode("append").partitionBy("list_id").parquet(s"$path/lists")
      }
      .start()
  }

  private def loadCenters(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map(_._2)

  // ---- recall-triggered refit: the offline half of the serving loop ------

  /** Mean recall@k of the saved IVF index vs brute force over its
    * OWN stored vectors, probed with `queries` — the drift sentinel
    * for the incremental-ANN loop. Probe cost is |Q|·k-bounded
    * (both sides ride [[KnnOps.rankTopK]]'s bounded aggregate);
    * keep |Q| a planted sample (hundreds), never the corpus.
    */
  def savedIndexRecall(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): Double = {
    val idx = loadIndex(spark, path)
    val approx = topK(queries, idx, idCol, vecCol, k, nProbe)
    val exact = KnnOps.bruteForceTopK(
      queries, idx.assigned.drop("list_id"), idCol, vecCol, k)
    val r = KnnOps.recallAtK(approx, exact, k).agg(avg(col("recall"))).head()
    if (r.isNullAt(0)) 1.0 else r.getDouble(0)
  }

  /** Offline refit of a persisted IVF index: re-fit the coarse
    * quantizer over the CURRENT stored vectors (stream appends
    * included) and swap the new layout in via the `.old`-staged
    * rename machinery of [[compactSavedPqIndex]].
    *
    * Maintenance-window contract — STRICTER than compact's because
    * TWO directories swap: quiesce writers AND readers from the
    * corpus read through the second rename. A writer appending
    * between the corpus read and the lists swap loses those rows
    * with the staged-out layout; a reader loading between the two
    * swaps can pair new centroids with old lists. The in-stream
    * trigger ([[maintainSavedIndexStreamWithRefit]]) serializes the
    * refit inside its own foreachBatch, so its OWN appends are safe
    * by construction; quiesce everything else. A crash between
    * renames leaves the `.old` dir recoverable.
    */
  def refitSavedIndex(
      spark: SparkSession,
      path: String,
      vecCol: String,
      nLists: Int,
      seed: Long = 42L,
      maxIter: Int = 10,
      maxSample: Int = -1 /* ≤0 → spark.graft.ann.fitMaxSample */
  ): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())
    val all = spark.read.parquet(s"$path/lists").drop("list_id")
    val idx = buildIndex(all, idCol = "", vecCol = vecCol, nLists = nLists,
      seed = seed, maxIter = maxIter, maxSample = maxSample)
    import spark.implicits._
    idx.centroids.toSeq.toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/.centroids.refit")
    idx.assigned.write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/.lists.refit")
    stageSwap(fs, new HPath(s"$path/centroids"), new HPath(s"$path/.centroids.refit"),
      new HPath(s"$path/.centroids.old"))
    stageSwap(fs, new HPath(s"$path/lists"), new HPath(s"$path/.lists.refit"),
      new HPath(s"$path/.lists.old"))
  }

  /** The recall-triggered recluster step: probe [[savedIndexRecall]]
    * with a planted query sample; below `minRecall` → offline
    * [[refitSavedIndex]] + atomic swap. Call it periodically from
    * the maintenance loop (or wire it in-stream with
    * [[maintainSavedIndexStreamWithRefit]]).
    *
    * @return (recallBefore, refitted, recallAfter) —
    *   recallAfter == recallBefore when no refit fired
    */
  def refitSavedIndexIfRecallBelow(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      minRecall: Double,
      nLists: Int,
      seed: Long = 42L
  ): (Double, Boolean, Double) = {
    require(minRecall > 0.0 && minRecall <= 1.0, s"minRecall in (0,1], got $minRecall")
    val before = savedIndexRecall(spark, path, queries, idCol, vecCol, k, nProbe)
    if (before >= minRecall) (before, false, before)
    else {
      refitSavedIndex(spark, path, vecCol, nLists, seed)
      (before, true, savedIndexRecall(spark, path, queries, idCol, vecCol, k, nProbe))
    }
  }

  /** [[maintainSavedIndexStream]] with the recall trigger wired in:
    * every `probeEvery` microbatches, probe recall@k against
    * `probeQueries` and refit + swap when it sinks below
    * `minRecall`. The complete incremental-ANN serving loop —
    * stream appends online, recluster exactly when drift has
    * actually degraded retrieval, not on a blind timer. The probe
    * runs inside foreachBatch (driver-coordinated between appends),
    * so the swap never races this stream's own writes; quiesce
    * OTHER appenders per the [[refitSavedIndex]] contract.
    */
  def maintainSavedIndexStreamWithRefit(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      idCol: String,
      vecCol: String,
      checkpointDir: String,
      probeQueries: DataFrame,
      k: Int,
      nProbe: Int,
      minRecall: Double,
      nLists: Int,
      probeEvery: Int = 10,
      onRefit: (Double, Double) => Unit = (_, _) => ()
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(rows.isStreaming, "maintainSavedIndexStreamWithRefit needs a streaming frame")
    require(probeEvery >= 1, s"probeEvery >= 1, got $probeEvery")
    val sinceProbe = new java.util.concurrent.atomic.AtomicInteger(0)
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val centers = loadCenters(spark, path)
        assignWith(batch, vecCol, centers)
          .write.mode("append").partitionBy("list_id").parquet(s"$path/lists")
        if (sinceProbe.incrementAndGet() >= probeEvery) {
          sinceProbe.set(0)
          val (before, fired, after) = refitSavedIndexIfRecallBelow(
            spark, path, probeQueries, idCol, vecCol, k, nProbe, minRecall, nLists)
          if (fired) onRefit(before, after)
        }
      }
      .start()
  }

  /** Swap `staging` into `live` with an `.old` backup: the rename
    * discipline shared with [[compactSavedPqIndex]].
    */
  private def stageSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path
  ): Unit = {
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(live, old)) {
      fs.delete(staging, true)
      throw new java.io.IOException(s"swap: cannot stage out $live")
    }
    if (!fs.rename(staging, live)) { // roll back, keep the index usable
      fs.rename(old, live)
      fs.delete(staging, true)
      throw new java.io.IOException(s"swap: cannot swap $staging into place")
    }
    fs.delete(old, true)
  }

  def loadIndex(spark: SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    IvfIndex(centroids, spark.read.parquet(s"$path/lists"))
  }

  // ---- IVF-PQ: product-quantized residuals --------------------------------

  /** PQ codebooks: `m` subspaces × `k` centers × subdim doubles,
    * trained on coarse-quantizer RESIDUALS (v − centroid(list(v))) —
    * the classic IVF-ADC layout. A vector stores as (list_id,
    * m bytes) instead of dim floats: at dim=64/m=8 that is a 32×
    * smaller inverted file, which is the whole point at 100 TB —
    * ANN probe cost is scan bandwidth, and PQ codes cut the bytes
    * read per candidate by >an order of magnitude.
    */
  /** @param rotation optional OPQ orthogonal rotation (dim×dim,
    *   rows are permuted covariance eigenvectors): residuals are
    *   rotated BEFORE subspace quantization, so correlated/
    *   unbalanced dimensions spread their variance evenly across
    *   the m subspaces (Ge et al. 2013, parametric OPQ). null =
    *   identity (plain PQ).
    */
  final case class PqCodebooks(
      m: Int, subDim: Int, centers: Array[Array[Array[Double]]],
      rotation: Array[Array[Double]] = null)
      extends Serializable

  final case class PqIndex(
      centroids: Array[(Int, Array[Double])],
      codebooks: PqCodebooks,
      encoded: DataFrame // (id, list_id, codes: array<byte>)
  )

  /** Encode one residual into m codebook bytes — public: invoked
    * from generated code.
    */
  def pqEncodeKernel(
      arr: ArrayData,
      centroid: Array[Double],
      books: PqCodebooks,
      elemIsFloat: Boolean
  ): ArrayData = {
    val raw = residualOf(arr, centroid, elemIsFloat)
    val res = if (books.rotation == null) raw else matVec(books.rotation, raw)
    val codes = new Array[Byte](books.m)
    var s = 0
    while (s < books.m) {
      val off = s * books.subDim
      val cs = books.centers(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var acc = 0.0
        var j = 0
        while (j < books.subDim && acc < bestD) {
          val idx = off + j
          val x = (if (idx < res.length) res(idx) else 0.0) - cent(j)
          acc += x * x
          j += 1
        }
        if (j == books.subDim && acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** Approximate L2² between a query and an encoded vector:
    * ||q − (centroid + decode(codes))||² — public: invoked from
    * generated code. O(dim) arithmetic but only m BYTES of the
    * candidate row are read, the ADC bandwidth win.
    */
  def pqDistanceKernel(
      codes: ArrayData,
      qv: ArrayData,
      centroid: Array[Double],
      books: PqCodebooks,
      qIsFloat: Boolean
  ): Double = {
    var acc = 0.0
    val dim = qv.numElements()
    var s = 0
    while (s < books.m) {
      val cent = books.centers(s)(codes.getByte(s) & 0xff)
      val off = s * books.subDim
      var j = 0
      while (j < books.subDim) {
        val idx = off + j
        if (idx < dim) {
          val q = if (qIsFloat) qv.getFloat(idx).toDouble else qv.getDouble(idx)
          val rec = (if (idx < centroid.length) centroid(idx) else 0.0) + cent(j)
          val x = q - rec
          acc += x * x
        }
        j += 1
      }
      s += 1
    }
    acc
  }

  /** Plain-PQ query residual q − centroid(list) — public: invoked
    * from generated code. The LUT path needs the residual as a
    * column even without an OPQ rotation.
    */
  def queryResidualKernel(arr: ArrayData, centroid: Array[Double], elemIsFloat: Boolean): ArrayData =
    new GenericArrayData(residualOf(arr, centroid, elemIsFloat))

  /** ADC lookup table for one (query, probed list) pair: a
    * flattened m×stride array where entry [s·stride + c] =
    * ‖res[s·subDim..(s+1)·subDim) − centers(s)(c)‖². Per-candidate
    * scoring then reads m table entries ([[pqAdcLutKernel]]) instead
    * of doing m·subDim float ops — the classic IVF-ADC distance
    * table (Jégou et al. 2011 §IV.A). Table cost m·k·subDim ops is
    * paid ONCE per probe row and amortizes over every candidate in
    * the probed list (list sizes at scale ≫ k). Summation order per
    * entry matches [[pqDistanceRotatedKernel]] (j ascending within
    * the subspace), so LUT scores are bit-identical to the direct
    * rotated kernel. Public: invoked from generated code.
    */
  def pqLutKernel(res: ArrayData, books: PqCodebooks): ArrayData = {
    val stride = lutStride(books)
    val dim = res.numElements()
    val lut = new Array[Double](books.m * stride)
    var s = 0
    while (s < books.m) {
      val cs = books.centers(s)
      val off = s * books.subDim
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var acc = 0.0
        var j = 0
        while (j < books.subDim) {
          val idx = off + j
          val x = (if (idx < dim) res.getDouble(idx) else 0.0) - cent(j)
          acc += x * x
          j += 1
        }
        lut(s * stride + c) = acc
        c += 1
      }
      s += 1
    }
    new GenericArrayData(lut)
  }

  /** Σ_s lut[s·stride + codes(s)] — m array reads + adds per
    * candidate. Public: invoked from generated code.
    */
  def pqAdcLutKernel(codes: ArrayData, lut: ArrayData, m: Int, stride: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getDouble(s * stride + (codes.getByte(s) & 0xff))
      s += 1
    }
    acc
  }

  private def lutStride(books: PqCodebooks): Int = {
    var mx = 0
    var s = 0
    while (s < books.centers.length) { if (books.centers(s).length > mx) mx = books.centers(s).length; s += 1 }
    mx
  }

  /** q − centroid(list) as a codegen'd expression (the no-rotation
    * twin of [[RotateResidual]]).
    */
  case class QueryResidual(child: Expression, listExpr: Expression, centroids: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = child
    override def right: Expression = listExpr
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
    override def prettyName: String = "query_residual"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): QueryResidual =
      copy(child = l, listExpr = r)

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(vec: Any, list: Any): Any =
      queryResidualKernel(vec.asInstanceOf[ArrayData], centroids(list.asInstanceOf[Int]), elemIsFloat)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centRef = ctx.addReferenceObj("graftPqCentroids", centroids, "double[][]")
      nullSafeCodeGen(ctx, ev, (v, l) =>
        s"${ev.value} = graft.operators.IvfKnnOps.queryResidualKernel($v, $centRef[$l], $elemIsFloat);")
    }
  }

  /** Residual → flattened ADC table ([[pqLutKernel]]). Evaluated on
    * the probe side BEFORE the candidate join: |Q|·nProbe rows each
    * carry m·k doubles, paid once per probed list rather than per
    * candidate.
    */
  case class PqLut(child: Expression, books: PqCodebooks) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
    override def prettyName: String = "pq_lut"
    override protected def withNewChildInternal(newChild: Expression): PqLut = copy(child = newChild)

    override def nullSafeEval(res: Any): Any =
      pqLutKernel(res.asInstanceOf[ArrayData], books)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val bookRef = ctx.addReferenceObj("graftPqBooks", books, classOf[PqCodebooks].getName)
      nullSafeCodeGen(ctx, ev, r =>
        s"${ev.value} = graft.operators.IvfKnnOps.pqLutKernel($r, $bookRef);")
    }
  }

  /** (codes, lut) → approximate L2² via m table lookups. */
  case class PqAdcLut(codes: Expression, lut: Expression, m: Int, stride: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = codes
    override def right: Expression = lut
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "pq_adc_lut"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcLut =
      copy(codes = l, lut = r)

    override def nullSafeEval(c: Any, t: Any): Any =
      java.lang.Double.valueOf(pqAdcLutKernel(
        c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData], m, stride))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (c, t) =>
        s"${ev.value} = graft.operators.IvfKnnOps.pqAdcLutKernel($c, $t, $m, $stride);")
  }

  private def residualOf(arr: ArrayData, centroid: Array[Double], elemIsFloat: Boolean): Array[Double] = {
    val n = arr.numElements()
    val raw = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      raw(i) = v - (if (i < centroid.length) centroid(i) else 0.0)
      i += 1
    }
    raw
  }

  /** Dense row-major mat·vec — public: invoked from generated code. */
  def matVec(mat: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](mat.length)
    var r = 0
    while (r < mat.length) {
      val row = mat(r)
      val d = math.min(row.length, v.length)
      var acc = 0.0
      var j = 0
      while (j < d) { acc += row(j) * v(j); j += 1 }
      out(r) = acc
      r += 1
    }
    out
  }

  /** OPQ query-side residual: R·(q − centroid) — public: invoked
    * from generated code. Computed ONCE per (query, probed list)
    * row, so the per-candidate distance stays O(dim) — rotating
    * inside the candidate scan would cost O(dim²) per row.
    */
  def rotateResidualKernel(
      arr: ArrayData,
      centroid: Array[Double],
      rotation: Array[Array[Double]],
      elemIsFloat: Boolean
  ): ArrayData = {
    new GenericArrayData(matVec(rotation, residualOf(arr, centroid, elemIsFloat)))
  }

  /** ADC distance in the ROTATED residual space: Σ (rq − dec)².
    * Valid because the rotation is orthogonal — ‖q − (c + Rᵀdec)‖²
    * = ‖R(q−c) − dec‖². Public: invoked from generated code.
    */
  def pqDistanceRotatedKernel(codes: ArrayData, rq: ArrayData, books: PqCodebooks): Double = {
    var acc = 0.0
    val dim = rq.numElements()
    var s = 0
    while (s < books.m) {
      val cent = books.centers(s)(codes.getByte(s) & 0xff)
      val off = s * books.subDim
      var j = 0
      while (j < books.subDim) {
        val idx = off + j
        if (idx < dim) { val x = rq.getDouble(idx) - cent(j); acc += x * x }
        j += 1
      }
      s += 1
    }
    acc
  }

  case class RotateResidual(child: Expression, listExpr: Expression,
      centroids: Array[Array[Double]], rotation: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = child
    override def right: Expression = listExpr
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
    override def prettyName: String = "rotate_residual"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): RotateResidual =
      copy(child = l, listExpr = r)

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(vec: Any, list: Any): Any =
      rotateResidualKernel(vec.asInstanceOf[ArrayData],
        centroids(list.asInstanceOf[Int]), rotation, elemIsFloat)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centRef = ctx.addReferenceObj("graftPqCentroids", centroids, "double[][]")
      val rotRef = ctx.addReferenceObj("graftOpqRotation", rotation, "double[][]")
      nullSafeCodeGen(ctx, ev, (v, l) =>
        s"${ev.value} = graft.operators.IvfKnnOps.rotateResidualKernel($v, $centRef[$l], $rotRef, $elemIsFloat);")
    }
  }

  case class PqDistanceRotated(codes: Expression, rq: Expression, books: PqCodebooks)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = codes
    override def right: Expression = rq
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "pq_distance_rotated"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqDistanceRotated =
      copy(codes = l, rq = r)

    override def nullSafeEval(c: Any, q: Any): Any =
      java.lang.Double.valueOf(pqDistanceRotatedKernel(
        c.asInstanceOf[ArrayData], q.asInstanceOf[ArrayData], books))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val bookRef = ctx.addReferenceObj("graftPqBooks", books, classOf[PqCodebooks].getName)
      nullSafeCodeGen(ctx, ev, (c, q) =>
        s"${ev.value} = graft.operators.IvfKnnOps.pqDistanceRotatedKernel($c, $q, $bookRef);")
    }
  }

  case class PqEncode(child: Expression, centroids: Array[Array[Double]], books: PqCodebooks, listExpr: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = child
    override def right: Expression = listExpr
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = false)
    override def prettyName: String = "pq_encode"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
      copy(child = l, listExpr = r)

    private lazy val elemIsFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(vec: Any, list: Any): Any =
      pqEncodeKernel(vec.asInstanceOf[ArrayData],
        centroids(list.asInstanceOf[Int]), books, elemIsFloat)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centRef = ctx.addReferenceObj("graftPqCentroids", centroids, "double[][]")
      val bookRef = ctx.addReferenceObj("graftPqBooks", books, classOf[PqCodebooks].getName)
      nullSafeCodeGen(ctx, ev, (v, l) =>
        s"${ev.value} = graft.operators.IvfKnnOps.pqEncodeKernel($v, $centRef[$l], $bookRef, $elemIsFloat);")
    }
  }

  case class PqDistance(codes: Expression, query: Expression, listExpr: Expression,
      centroids: Array[Array[Double]], books: PqCodebooks)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = codes
    override def second: Expression = query
    override def third: Expression = listExpr
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "pq_distance"
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): PqDistance =
      copy(codes = a, query = b, listExpr = c)

    private lazy val qIsFloat =
      query.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(c: Any, q: Any, l: Any): Any =
      java.lang.Double.valueOf(pqDistanceKernel(c.asInstanceOf[ArrayData],
        q.asInstanceOf[ArrayData], centroids(l.asInstanceOf[Int]), books, qIsFloat))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centRef = ctx.addReferenceObj("graftPqCentroids", centroids, "double[][]")
      val bookRef = ctx.addReferenceObj("graftPqBooks", books, classOf[PqCodebooks].getName)
      nullSafeCodeGen(ctx, ev, (c, q, l) =>
        s"${ev.value} = graft.operators.IvfKnnOps.pqDistanceKernel($c, $q, $centRef[$l], $bookRef, $qIsFloat);")
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * returns (eigenvalues, eigenvectors as COLUMNS). O(d³) per
    * sweep on the driver; d is the embedding dim (64 here), so the
    * whole decomposition is microseconds. Public-textbook algorithm
    * (Golub & Van Loan §8.5).
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-14) {
            off += apq * apq
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // NOT signum(theta)/(...): signum(0)=0 would skip the
            // rotation entirely when the two diagonal entries are
            // exactly equal (e.g. duplicated dimensions) — the
            // correct pivot there is the full 45° rotation (t=1)
            val t =
              if (theta >= 0.0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Parametric OPQ rotation (Ge et al. 2013 "OPQ-P"): PCA-rotate
    * the residual space, then allocate principal directions to the
    * m subspaces balancing the PRODUCT of eigenvalues per subspace
    * (greedy largest-first into the emptiest bucket) so every
    * codebook quantizes a comparable variance budget. Returns the
    * dim×dim orthogonal matrix whose ROWS are the allocated
    * eigenvector directions, ordered so rows s·subDim..(s+1)·subDim
    * feed subspace s.
    */
  private[graft] def opqRotation(residuals: Array[Array[Double]], m: Int): Array[Array[Double]] = {
    val dim = residuals(0).length
    val subDim = dim / m
    val n = residuals.length.toDouble
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < residuals.length) {
      val r = residuals(i)
      var a = 0
      while (a < dim) {
        val ra = r(a)
        var b = a
        while (b < dim) { cov(a)(b) += ra * r(b); b += 1 }
        a += 1
      }
      i += 1
    }
    var a = 0
    while (a < dim) { var b = a; while (b < dim) { cov(a)(b) /= n; cov(b)(a) = cov(a)(b); b += 1 }; a += 1 }
    val (values, vectors) = jacobiEigen(cov)
    // eigen directions sorted by variance, largest first
    val order = (0 until dim).sortBy(i => -values(i))
    // greedy balance: assign each direction to the not-yet-full
    // subspace with the smallest accumulated log-variance product
    val logSum = Array.fill(m)(0.0)
    val fill = Array.fill(m)(0)
    val assign = Array.fill(m)(scala.collection.mutable.ArrayBuffer[Int]())
    for (idx <- order) {
      val s = (0 until m).filter(fill(_) < subDim).minBy(logSum(_))
      assign(s) += idx
      fill(s) += 1
      logSum(s) += math.log(math.max(values(idx), 1e-300))
    }
    val rot = Array.ofDim[Double](dim, dim)
    var row = 0
    for (s <- 0 until m; idx <- assign(s)) {
      var k = 0
      while (k < dim) { rot(row)(k) = vectors(k)(idx); k += 1 } // eigenvector idx as a row
      row += 1
    }
    rot
  }

  /** Gauss-Jordan inverse with partial pivoting — d is the
    * embedding dim, so this is driver-side microseconds.
    */
  private def matInv(a0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = a0.length
    val a = a0.map(_.clone())
    val inv = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var c = 0
    while (c < d) {
      var piv = c
      var r = c + 1
      while (r < d) { if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r; r += 1 }
      require(math.abs(a(piv)(c)) > 1e-13, "singular matrix in Procrustes solve")
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t; val u = inv(piv); inv(piv) = inv(c); inv(c) = u }
      val p = a(c)(c)
      var j = 0
      while (j < d) { a(c)(j) /= p; inv(c)(j) /= p; j += 1 }
      r = 0
      while (r < d) {
        if (r != c) {
          val f = a(r)(c)
          if (f != 0.0) { var j = 0; while (j < d) { a(r)(j) -= f * a(c)(j); inv(r)(j) -= f * inv(c)(j); j += 1 } }
        }
        r += 1
      }
      c += 1
    }
    inv
  }

  /** Orthogonal polar factor of a (nonsingular) square matrix via
    * the Newton iteration X ← (X + X⁻ᵀ)/2 — for C = UΣVᵀ this
    * converges to UVᵀ, which is exactly the Procrustes solution
    * argmin_{R orthogonal} ‖R X − B‖ when C = B Xᵀ (Higham 1986).
    */
  private[graft] def polarOrthogonal(c0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = c0.length
    // ridge against exact singularity, scale for convergence
    val norm = math.sqrt(c0.map(_.map(x => x * x).sum).sum / d)
    var x = c0.map(_.map(_ / math.max(norm, 1e-12)))
    var i = 0
    while (i < d) { x(i)(i) += 1e-9; i += 1 }
    var it = 0
    var delta = Double.MaxValue
    while (it < 50 && delta > 1e-12) {
      val invT = {
        val inv = matInv(x)
        Array.tabulate(d, d)((r, c) => inv(c)(r))
      }
      val next = Array.tabulate(d, d)((r, c) => 0.5 * (x(r)(c) + invT(r)(c)))
      delta = (0 until d).map(r => (0 until d).map(c => math.abs(next(r)(c) - x(r)(c))).max).max
      x = next
      it += 1
    }
    x
  }

  /** Full OPQ (Ge et al. 2013, non-parametric): alternate between
    * fitting subspace codebooks in the current rotated space and
    * re-solving the rotation as the orthogonal Procrustes problem
    * against the reconstructions (R ← polar(B Xᵀ)). Initialized
    * from the parametric rotation; each iteration can only reduce
    * the sample quantization error the two steps jointly minimize.
    * Returns (rotation, fitted subspace codebooks) so the caller
    * skips the final refit.
    */
  private[graft] def opqRotationFull(
      residuals: Array[Array[Double]],
      m: Int,
      kPerSub: Int,
      seed: Long,
      iters: Int = 4,
      fitIter: Int = 4
  ): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val dim = residuals(0).length
    val subDim = dim / m
    var rot = opqRotation(residuals, m)
    var books: Array[Array[Array[Double]]] = null
    var t = 0
    while (t < iters) {
      val rotated = residuals.map(matVec(rot, _))
      books = fitSubBooks(rotated, m, subDim, kPerSub, fitIter, seed + 101L * t)
      if (t < iters - 1) {
        // reconstructions in the rotated space
        val bks = books
        val recon = rotated.map { r =>
          val out = new Array[Double](dim)
          var s = 0
          while (s < m) {
            val sub = java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim)
            val cent = bks(s)(nearest(sub, bks(s)))
            System.arraycopy(cent, 0, out, s * subDim, subDim)
            s += 1
          }
          out
        }
        // C = Σ recon_i · residual_iᵀ  (B Xᵀ), then R = polar(C)
        val c = Array.ofDim[Double](dim, dim)
        var i = 0
        while (i < residuals.length) {
          val b = recon(i); val x = residuals(i)
          var r = 0
          while (r < dim) {
            val br = b(r)
            if (br != 0.0) { var cc = 0; while (cc < dim) { c(r)(cc) += br * x(cc); cc += 1 } }
            r += 1
          }
          i += 1
        }
        rot = polarOrthogonal(c)
      }
      t += 1
    }
    (rot, books)
  }

  /** Per-subspace codebook fits on a driver thread pool (the m fits
    * are independent; deterministic per-subspace seeds).
    */
  private def fitSubBooks(
      residuals: Array[Array[Double]],
      m: Int,
      subDim: Int,
      kPerSub: Int,
      maxIter: Int,
      seed: Long
  ): Array[Array[Array[Double]]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors))
    try {
      val futures = (0 until m).map { s =>
        pool.submit(new java.util.concurrent.Callable[Array[Array[Double]]] {
          override def call(): Array[Array[Double]] = {
            val sub = residuals.map(r => java.util.Arrays.copyOfRange(r, s * subDim, (s + 1) * subDim))
            lloyds(sub, math.min(kPerSub, sub.length), maxIter, seed + 31 * (s + 1))
          }
        })
      }
      futures.map(_.get()).toArray
    } finally pool.shutdown()
  }

  /** Fit coarse centroids + per-subspace residual codebooks on the
    * bounded driver sample, then PQ-encode the whole corpus in ONE
    * zero-shuffle distributed pass (both assignment and encoding are
    * codegen'd expressions). `kPerSub` ≤ 256 (codes are bytes).
    *
    * @param opq learn a parametric-OPQ rotation ([[opqRotation]])
    *   from the residual sample and quantize in the rotated space —
    *   balances variance across subspaces when dimensions are
    *   correlated or unevenly scaled; identity (plain PQ) when off.
    * @param opqIters 0 = parametric rotation only; >0 runs the full
    *   alternating optimization ([[opqRotationFull]]: codebook fit ↔
    *   Procrustes rotation solve) for that many rounds on the
    *   driver sample.
    */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      m: Int = 8,
      kPerSub: Int = 256,
      seed: Long = 42L,
      maxIter: Int = 10,
      maxSample: Int = -1 /* ≤0 → spark.graft.ann.fitMaxSample */,
      opq: Boolean = false,
      opqIters: Int = 0
  ): PqIndex = {
    require(kPerSub <= 256, "PQ codes are single bytes: kPerSub must be <= 256")
    val sample = sampleVectors(corpus, vecCol, maxSample)
    require(sample.nonEmpty, "empty corpus for PQ fit")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val centers = lloyds(sample, nLists, maxIter, seed)
    // residuals of the sample under the fitted coarse quantizer
    val rawResiduals = sample.map { v =>
      val c = centers(nearest(v, centers))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val (rotation, subBooks) =
      if (opq && opqIters > 0)
        opqRotationFull(rawResiduals, m, kPerSub, seed, iters = opqIters, fitIter = maxIter)
      else {
        val rot = if (opq) opqRotation(rawResiduals, m) else null
        val residuals = if (rot == null) rawResiduals else rawResiduals.map(matVec(rot, _))
        (rot, fitSubBooks(residuals, m, subDim, kPerSub, maxIter, seed))
      }
    val books = PqCodebooks(m, subDim, subBooks, rotation)
    val centroids = centers.zipWithIndex.map { case (cn, i) => (i, cn) }
    val listCol = ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(col(vecCol)), centers))
    val withList = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"), listCol.as("list_id"))
    val encoded = withList.select(
      col("id"), col("list_id"),
      ColumnBridge.column(PqEncode(
        ColumnBridge.expression(col("__v")), centers, books,
        ColumnBridge.expression(col("list_id")))).as("codes"))
    PqIndex(centroids, books, encoded)
  }

  /** Persist a PQ index as the m-byte codes partitioned by list (the
    * same partition-pruned on-disk layout as [[saveIndex]] — probes
    * read only their lists), then one binary [[PqStateFile]],
    * `pq_state.bin`, holding the coarse centroids, subspace codebooks
    * and optional OPQ rotation: everything a fresh session needs to
    * probe without refitting. The state file is removed first and
    * written last, so it marks a complete save.
    */
  def savePqIndex(index: PqIndex, path: String): Unit = {
    val state = new org.apache.hadoop.fs.Path(path, PqStateFile.Name)
    val fs = state.getFileSystem(index.encoded.sparkSession.sessionState.newHadoopConf())
    fs.delete(state, false)
    index.encoded.write.mode("overwrite").partitionBy("list_id").parquet(s"$path/codes")
    PqStateFile.write(fs, state, index.centroids, index.codebooks)
  }

  /** Compact a persisted PQ index's codes directory: every
    * [[appendToSavedPqIndex]] adds one parquet file per touched
    * list partition, so a continuously-appended index accretes
    * small files linearly (the r7 probe measured 64 files/append —
    * 704 after 10 appends on a 64-list index) until scan overhead,
    * not data volume, dominates probes. Rewrites the codes to one
    * file per list (atomic swap via a staging dir + rename), the
    * layout [[savePqIndex]] starts from. Run as periodic
    * maintenance after append bursts, like any LSM-ish layout.
    *
    * Maintenance-window contract (this is a dir-swap, not a
    * transaction — there is no manifest to commit atomically):
    * quiesce concurrent readers/appenders for the swap instant; a
    * crash between the two renames leaves `codes` staged out as
    * `.codes.old` (recoverable by renaming back), and an append
    * that races the swap can land in the staged-out dir and be
    * dropped. Same contract as Hive-style rename-based rewrites.
    */
  def compactSavedPqIndex(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val codes = new HPath(s"$path/codes")
    val fs = codes.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new HPath(s"$path/.codes.compact")
    spark.read.parquet(codes.toString)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(staging.toString)
    stageSwap(fs, codes, staging, new HPath(s"$path/.codes.old"))
  }

  /** Incremental append against a PERSISTED PQ index: new vectors
    * are assigned with the frozen coarse quantizer and encoded with
    * the frozen codebooks (rotation included), then appended to
    * only the list partitions they land in — O(new rows)
    * maintenance, same contract as [[appendToSavedIndex]]. Refit
    * offline when the data distribution drifts from the frozen
    * quantizers. File-count hygiene: each append adds a file per
    * touched list; run [[compactSavedPqIndex]] after append bursts.
    */
  def appendToSavedPqIndex(
      spark: SparkSession,
      path: String,
      rows: DataFrame,
      idCol: String,
      vecCol: String
  ): Unit = {
    val idx = loadPqIndex(spark, path)
    val centers = idx.centroids.sortBy(_._1).map(_._2)
    val withList = rows.select(col(idCol).as("id"), col(vecCol).as("__v"),
      ColumnBridge.column(NearestCentroid(ColumnBridge.expression(col(vecCol)), centers)).as("list_id"))
    withList.select(
      col("id"), col("list_id"),
      ColumnBridge.column(PqEncode(
        ColumnBridge.expression(col("__v")), centers, idx.codebooks,
        ColumnBridge.expression(col("list_id")))).as("codes"))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/codes")
  }

  /** Reload a [[savePqIndex]] directory: the state file in one read,
    * every shape checked, and `codes` as a lazy frame. */
  def loadPqIndex(spark: SparkSession, path: String): PqIndex = {
    val state = new org.apache.hadoop.fs.Path(path, PqStateFile.Name)
    val (centroids, books) = PqStateFile.read(state.getFileSystem(spark.sessionState.newHadoopConf()), state)
    PqIndex(centroids, books, spark.read.parquet(s"$path/codes"))
  }

  /** Top-k by APPROXIMATE L2 over PQ codes, probing nProbe lists —
    * candidates are scored from m-byte codes (never the raw
    * vectors), ranked ascending distance with id tie-break through
    * the bounded TopK aggregate.
    *
    * @param lut precompute the per-(query, list) ADC distance table
    *   ([[pqLutKernel]]) on the probe side, so each candidate costs
    *   m lookups instead of m·subDim float ops. MEASURED SLOWER
    *   here and left off by default: at 40 M candidates (dim 512,
    *   m 16, 10 k-vector lists) direct scored 8.0 s vs LUT 14.1 s,
    *   and at 20× registry scale (dim 64) 2.1 s vs 2.7 s — per-
    *   candidate join/aggregate row machinery costs ~µs while the
    *   saved arithmetic is ~0.1 µs, so the LUT's m·k-double rows
    *   only fatten the probe broadcast. The classic FAISS win
    *   requires a tight columnar scan loop; in Spark's row-at-a-time
    *   pipeline the flag exists for completeness and for engines
    *   layered on batch scoring.
    */
  def pqTopK(
      queries: DataFrame,
      index: PqIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      lut: Boolean = false
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = index.centroids.toSeq.toDF("list_id", "centroid")
    val qc = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("cdist", VF.l2Distance(col("qv"), col("centroid")))
    val wProbe = Window.partitionBy("query_id").orderBy(col("cdist"), col("list_id"))
    val probes = qc.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "list_id")
    val centers = index.centroids.sortBy(_._1).map(_._2)
    val books = index.codebooks
    // The query-side prep happens ONCE per (query, probed list) row
    // — |Q|·nProbe rotations/tables total — so the per-candidate ADC
    // stays O(dim) (direct) or O(m) (LUT).
    val residual =
      if (books.rotation == null)
        ColumnBridge.column(QueryResidual(
          ColumnBridge.expression(col("qv")),
          ColumnBridge.expression(col("list_id")), centers))
      else
        ColumnBridge.column(RotateResidual(
          ColumnBridge.expression(col("qv")),
          ColumnBridge.expression(col("list_id")),
          centers, books.rotation))
    val probeSide =
      if (lut)
        probes.select(col("query_id"), col("list_id"),
          ColumnBridge.column(PqLut(ColumnBridge.expression(residual), books)).as("lut"))
      else if (books.rotation == null) probes
      else probes.withColumn("rqv", residual)
    val joined = index.encoded
      .join(broadcast(probeSide), Seq("list_id"))
      .filter(col("query_id") =!= col("id"))
    val distCol =
      if (lut)
        ColumnBridge.column(PqAdcLut(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("lut")), books.m, lutStride(books)))
      else if (books.rotation == null)
        ColumnBridge.column(PqDistance(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("qv")),
          ColumnBridge.expression(col("list_id")),
          centers, books))
      else
        ColumnBridge.column(PqDistanceRotated(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("rqv")),
          books))
    val scored = joined.withColumn("dist", distCol)
      // TopK keeps the LARGEST scores: negate distance for ascending-L2 ranking
      .select(col("query_id"), col("id").as("neighbor_id"),
        (-VF.hround(col("dist"), 6)).as("cosine"))
    KnnOps.rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), (-col("cosine")).as("l2sq"), col("rank"))
  }

  /** PQ search with an exact re-rank pass: take `k * rerankFactor`
    * candidates by approximate ADC distance, then re-score JUST
    * those candidates against their raw vectors and keep the exact
    * top-k. This is the standard IVF-PQ accuracy recovery (quantize
    * to shrink the scan, re-rank to undo the quantization error on
    * the short-list) — reference near-dup/ANN surface, e.g.
    * biosets' embedding search returning exact scores.
    *
    * Scale shape: the candidate short-list is |Q|·k·rerankFactor
    * rows — it BROADCASTS into the raw-vector corpus scan, so the
    * corpus is read once, never shuffled, and only candidate rows
    * survive the join; the final ranking rides the same bounded
    * TopK partial as every other knn path. Output distances are
    * exact squared L2 (hround 6), so downstream thresholds behave
    * as if brute force had run.
    */
  def pqTopKRerank(
      queries: DataFrame,
      index: PqIndex,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      rerankFactor: Int = 4
  ): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    val cands = pqTopK(queries, index, idCol, vecCol, k * rerankFactor, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val exact = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cands.join(qv, "query_id")), Seq("neighbor_id"))
      // TopK keeps the LARGEST scores: negate exact distance for ascending-L2 ranking
      .select(col("query_id"), col("neighbor_id"),
        (-VF.hround(VF.l2DistanceSq(col("qv"), col("cv")), 6)).as("cosine"))
    KnnOps.rankTopK(exact, k)
      .select(col("query_id"), col("neighbor_id"), (-col("cosine")).as("l2sq"), col("rank"))
  }

  /** Top-k cosine neighbors probing nProbe lists per query. */
  def topK(
      queries: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = index.centroids.toSeq.toDF("list_id", "centroid")

    // query → its nProbe nearest centroids (|Q| × nLists tiny compare)
    val qc = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("cdist", VF.l2Distance(col("qv"), col("centroid")))
    val wProbe = Window.partitionBy("query_id").orderBy(col("cdist"), col("list_id"))
    val probes = qc.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "list_id")

    // score only the probed lists; bounded top-k aggregate keeps
    // the exchange at |Q|·k entries (see [[KnnOps.rankTopK]])
    val scored = index.assigned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("list_id"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VF.hround(HE.cosineSim(col("qv"), col("cv")), 6))
    KnnOps.rankTopK(scored, k)
  }

  /** FILTERED ANN search (S16): top-k among corpus rows matching a
    * predicate — "nearest English documents", "nearest rows newer
    * than T" — the one retrieval primitive every production vector
    * deployment hits the week after launch. PRE-filtering: the
    * predicate is applied to the inverted file BEFORE any distance
    * arithmetic, so the index scan prices at selectivity·(probed
    * list volume), never post-hoc discards of an already-ranked
    * top-k (post-filtering returns < k rows whenever the unfiltered
    * top-k wasn't predicate-dense — the classic filtered-ANN
    * mistake).
    *
    * Scale shape: identical to [[topK]] — probes broadcast, the
    * corpus scan streams through the bounded top-k aggregate — with
    * the predicate fused INTO the scan stage: on a [[loadIndex]]-
    * backed index the filter reaches the parquet reader as a pushed
    * predicate alongside `list_id` partition pruning, so a
    * selective filter makes the query CHEAPER, not just smaller.
    *
    * Recall trade (documented, caller-controlled): filtering does
    * not widen the probe set, so the realized neighbor count is
    * bounded by the predicate survivors inside the nProbe probed
    * lists — expected ≈ selectivity · nProbe/nLists · n. Under a
    * selective predicate raise `nProbe` so selectivity composes
    * with probe width (rule of thumb: nProbe' = nProbe /
    * selectivity, capped at nLists, at which point the search is a
    * filtered brute-force scan — the correct degenerate plan).
    * [[topKFilteredAdaptive]] applies that rule automatically from
    * the measured selectivity.
    *
    * @param predicate boolean [[Column]] over the CORPUS columns
    *                  (any column of the frame the index was built
    *                  from; probes/queries are not filterable here)
    */
  def topKFiltered(
      queries: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      predicate: Column
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = index.centroids.toSeq.toDF("list_id", "centroid")
    val qc = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("cdist", VF.l2Distance(col("qv"), col("centroid")))
    val wProbe = Window.partitionBy("query_id").orderBy(col("cdist"), col("list_id"))
    val probes = qc.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "list_id")
    val scored = index.assigned
      // filter FIRST, while the corpus columns are still in scope —
      // Catalyst pushes it through the select into the scan
      .filter(predicate)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("list_id"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VF.hround(HE.cosineSim(col("qv"), col("cv")), 6))
    KnnOps.rankTopK(scored, k)
  }

  /** [[topKFiltered]] with the documented recall rule made CODE:
    * `nProbe' = nProbe / selectivity`, capped at nLists. A fixed
    * probe width composes multiplicatively with the predicate — the
    * expected survivor count inside the probed lists is
    * selectivity·nProbe/nLists·n, so a 1% predicate over a 4/16
    * probe leaves ~0.25% of the corpus reachable and most queries
    * return fewer than k rows (or the wrong rows) while the TRUE
    * filtered neighbors sit in unprobed lists. Widening by measured
    * selectivity restores the UNFILTERED probe volume; at full
    * widening (nProbe' = nLists) the search degenerates to the
    * correct plan — a filtered brute-force scan.
    *
    * Cost of the measurement: ONE map-side-combinable count
    * aggregate over the index frame, reading only the predicate's
    * columns (column-pruned at the scan; the vectors are never
    * touched). That is strictly cheaper than even a single-probe
    * search pass, and the measured value is exact, not a sampled
    * estimate — a skew-safe property when the predicate correlates
    * with list assignment (language/topic predicates usually do).
    *
    * @param nProbe the BASE probe width — what the caller would use
    *               unfiltered; the effective width is derived
    */
  def topKFilteredAdaptive(
      queries: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      predicate: Column
  ): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val nLists = index.centroids.length
    val sel = index.assigned
      .agg(count(lit(1)).as("n"), count(when(predicate, 1)).as("m"))
      .head()
    val (n, m) = (sel.getLong(0), sel.getLong(1))
    val widened =
      if (m <= 0 || n <= 0) nLists // nothing survives: cheapest correct plan is the full (empty) scan
      else math.min(nLists.toLong, (nProbe.toLong * n + m - 1) / m).toInt
    topKFiltered(queries, index, idCol, vecCol, k, widened, predicate)
  }

  /** kNN GRAPH: every corpus vector's top-k neighbors — the all-rows
    * companion of [[topK]], and the primitive under SemDeDup cluster
    * sizing, duplicate-cluster discovery, and graph analytics over a
    * derived similarity graph (feed the edges straight into the
    * `GraphOps` family: connected components for duplicate clusters,
    * Louvain for topic communities, degree stats for outlier docs).
    *
    * Scale shape (the n² trap, and why this avoids it): when the
    * query set IS the corpus, [[topK]]'s broadcast-the-probes plan
    * would ship all n query vectors to every executor — correct only
    * for small query frames. Here both sides stay distributed: probe
    * lists come from the codegen'd [[TopCentroids]] expression
    * (scan-stage, no crossJoin, no window sort), and candidate
    * generation is ONE shuffle hash equi-join on `list_id` with both
    * sides co-partitioned by list. Candidate volume is
    * Σ_l |list_l|·|probers_l| ≈ n·nProbe·(n/nLists) — an
    * nLists/nProbe-fold reduction vs brute force that the caller
    * sizes via nLists (rule of thumb √n lists keeps per-list blocks
    * flat as n grows); a hot list (skewed cluster) is split by AQE
    * skew-join handling since both join inputs are exchanges, never
    * a broadcast. Per-query output is bounded by [[KnnOps.rankTopK]]'s
    * top-k aggregate: the final exchange carries n·k entries, never
    * n·candidates. Rows with null vectors drop out naturally (null
    * list_id never equi-joins).
    */
  def knnGraph(
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val centers = index.centroids.sortBy(_._1).map(_._2)
    val probes = index.assigned
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"), explode(ColumnBridge.column(
        TopCentroids(ColumnBridge.expression(col("qv")), centers, nProbe))).as("list_id"))
    val cands = index.assigned
      .select(col("list_id"), col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // shuffle-hash, never sort-merge: the probe side is n·nProbe rows
    // and the candidate side n rows — hashing per-task list blocks
    // beats sorting both (the r12 triangle-close lesson, same shape)
    val scored = probes.join(cands.hint("shuffle_hash"), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VF.hround(HE.cosineSim(col("qv"), col("cv")), 6))
    KnnOps.rankTopK(scored, k)
  }

  /** [[knnGraph]] convenience: fit the IVF index and build the graph
    * in one call. Returns (query_id, neighbor_id, cosine, rank).
    */
  def knnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nProbe: Int = 4,
      seed: Long = 42L,
      maxIter: Int = 10,
      maxSample: Int = -1 /* ≤0 → spark.graft.ann.fitMaxSample */
  ): DataFrame = {
    val index = buildIndex(corpus, idCol, vecCol, nLists, seed = seed,
      maxIter = maxIter, maxSample = maxSample)
    knnGraph(index, idCol, vecCol, k, nProbe)
  }

  /** k-NN classification by retrieval (S15): label each query by
    * majority vote over its top-k neighbors from the IVF index —
    * the classify-by-example read-out every labeled embedding
    * corpus supports for free (domain tagging, quality-tier
    * propagation, weak labeling of new docs from a curated seed
    * set). Deterministic vote: most votes, ties to the smallest
    * label (stated, replayable).
    *
    * Scale shape: [[topK]]'s probe plan (|Q|·k result rows), one
    * shuffle join of those rows to the corpus label frame on
    * neighbor id, one map-side-combinable groupBy(query, label),
    * and a k-bounded row_number window per query. The label frame
    * is corpus-sized — it hash-joins, never broadcasts.
    *
    * @param labels (id, label) — one row per corpus vector; the
    *               label frame may be PARTIAL (a curated seed set)
    * @return (query_id, label, votes, k_found) — `k_found` ≤ k is
    *         the realized LABELED neighbor count (probes can
    *         undershoot, and unlabeled neighbors don't vote). A
    *         query whose neighbors are all unlabeled still emits a
    *         row, with `label = null, votes = 0, k_found = 0`, so
    *         callers can tell "unlabeled" from "not retrieved";
    *         only queries that retrieve ZERO neighbors under tight
    *         probes are absent from the output.
    */
  def classify(
      queries: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      labels: DataFrame,
      labelCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val nn = topK(queries, index, idCol, vecCol, k, nProbe)
    val lab = labels.select(col(idCol).as("neighbor_id"), col(labelCol).as("label"))
    // LEFT join: a query whose retrieved neighbors all lack label
    // rows must not vanish (the r13 ADVICE drop) — it surfaces as a
    // (label=null, votes=0, k_found=0) row instead. Unlabeled
    // neighbors collapse to one null-label group that never
    // outranks a real label (isNotNull leads the vote order) and
    // contributes nothing to k_found.
    val votes = nn.join(lab, Seq("neighbor_id"), "left")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
    val ord = Window.partitionBy(col("query_id"))
      .orderBy(col("label").isNotNull.desc, col("votes").desc, col("label"))
    votes
      .withColumn("k_found",
        sum(when(col("label").isNotNull, col("votes")).otherwise(0L)).over(w))
      .withColumn("__rn", row_number().over(ord))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("label"),
        when(col("label").isNotNull, col("votes")).otherwise(0L).as("votes"),
        col("k_found"))
  }

  /** Mutual-kNN clusters (S14): near-duplicate / tight-community
    * groups from the [[knnGraph]] — keep an edge only when BOTH
    * endpoints name each other in their top-k at `cosine ≥
    * minCosine`, then close the mutual edge set with
    * [[graft.operators.GraphOps.connectedComponents]]. Mutuality is
    * the standard asymmetry filter (a hub's one-way fans don't
    * chain); the result is the cluster frame SemDeDup-style
    * semantic dedup keeps one representative per.
    *
    * Scale shape: the graph build is [[knnGraph]]'s bounded n·k
    * edge frame; mutuality is ONE map-side-combinable groupBy on
    * the canonical (lo, hi) pair (an edge present in both
    * directions counts 2 — no self-join); the closure is the
    * O(log n) star-contraction CC. Nothing here rescans the vector
    * column.
    *
    * @return (member_id, cluster_id) for every vector on ≥1 mutual
    *         edge — singletons are NOT emitted (the dedup-family
    *         convention: only rows that collided with something).
    */
  def mutualKnnClusters(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minCosine: Double,
      nLists: Int,
      nProbe: Int = 4,
      seed: Long = 42L,
      maxIter: Int = 10
  ): DataFrame = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    val g = knnGraph(corpus, idCol, vecCol, k, nLists, nProbe, seed, maxIter)
      .filter(col("cosine") >= minCosine)
    val mutual = g
      .select(least(col("query_id"), col("neighbor_id")).as("lo"),
        greatest(col("query_id"), col("neighbor_id")).as("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("__dir"))
      // 2 = both directions (knnGraph emits each directed edge once:
      // per-query ranks are distinct, so a pair can appear at most
      // twice — once from each endpoint)
      .filter(col("__dir") >= 2)
      .select(col("lo").as("src"), col("hi").as("dst"))
    graft.operators.GraphOps.connectedComponents(mutual)
      .select(col("id").as("member_id"), col("component").as("cluster_id"))
  }
}
