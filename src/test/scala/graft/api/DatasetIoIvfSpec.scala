package graft.api

import graft.SparkSpec
import graft.operators.{IvfKnnOps, KnnOps}
import graft.sources.BioLoader
import org.apache.spark.sql.functions._

class DatasetIoIvfSpec extends SparkSpec {
  import spark.implicits._

  test("DatasetIO round-trips splits, roles, labels, and feature metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toFile.getAbsolutePath
    val src = java.nio.file.Files.createTempDirectory("graft-io-src").toFile.getAbsolutePath
    Seq(("s1", "sick", 3L), ("s2", "healthy", 0L), ("s3", "sick", 7L))
      .toDF("samples", "diagnosis", "otu1").write.parquet(s"$src/d.parquet")
    val ds = LoadDataset.load(spark, LoadDataset.Config(
      dataFiles = Seq(s"$src/d.parquet"), targetColumn = Some("diagnosis"), experimentType = "otu"))
    val splits = ds.trainTestSplit(0.34)
    DatasetIO.save(ds, dir, splits)

    val (loaded, meta) = DatasetIO.load(spark, dir)
    assert(loaded.keySet == Set("train", "test"))
    assert(loaded("train").count() + loaded("test").count() == 3)
    assert(meta.roles.sampleColumn.contains("samples"))
    assert(meta.roles.targetColumn.contains("diagnosis"))
    assert(meta.labelNames == Seq("healthy", "sick"))
    assert(meta.task.contains(graft.sources.ColumnInference.Classification))
    // schema-embedded feature type survives the parquet round trip
    assert(loaded("train").schema("otu1").metadata.getString("graft.featureType") == "Abundance")
  }

  test("DatasetIO format=arrow: sharded IPC splits round-trip with the sidecar, format auto-detected") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io-arrow").toFile.getAbsolutePath
    val src = java.nio.file.Files.createTempDirectory("graft-io-arrow-src").toFile.getAbsolutePath
    Seq(("s1", "sick", 3L), ("s2", "healthy", 0L), ("s3", "sick", 7L), ("s4", "healthy", 2L))
      .toDF("samples", "diagnosis", "otu1").write.parquet(s"$src/d.parquet")
    val ds = LoadDataset.load(spark, LoadDataset.Config(
      dataFiles = Seq(s"$src/d.parquet"), targetColumn = Some("diagnosis"), experimentType = "otu"))
    DatasetIO.save(ds, dir, Map("train" -> ds.df.repartition(2)), format = "arrow")
    // splits landed as sharded .arrow files with a _SUCCESS marker
    val files = new java.io.File(s"$dir/train").listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".arrow")) >= 1 && files.contains("_SUCCESS"), files.mkString(","))
    val (loaded, meta) = DatasetIO.load(spark, dir) // format from the sidecar, no hint
    assert(loaded("train").count() == 4)
    assert(loaded("train").select("samples", "diagnosis").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set("s1" -> "sick", "s2" -> "healthy", "s3" -> "sick", "s4" -> "healthy"))
    assert(meta.labelNames == Seq("healthy", "sick"))
    assert(meta.roles.targetColumn.contains("diagnosis"))
  }

  test("decode inverts classEncode through a DatasetIO save/load round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dec").toFile.getAbsolutePath
    val src = java.nio.file.Files.createTempDirectory("graft-dec-src").toFile.getAbsolutePath
    Seq(("s1", "sick", 3L), ("s2", "healthy", 0L), ("s3", null, 7L))
      .toDF("samples", "diagnosis", "otu1").write.parquet(s"$src/d.parquet")
    val ds = LoadDataset.load(spark, LoadDataset.Config(
      dataFiles = Seq(s"$src/d.parquet"), targetColumn = Some("diagnosis"), experimentType = "otu"))
    DatasetIO.save(ds, dir, Map("all" -> ds.df))
    val (loaded, meta) = DatasetIO.load(spark, dir)
    val m = meta.copy(df = loaded("all")).decode()
      .select("samples", "diagnosis", "decoded_labels")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(m("s1") == (("sick", "sick")))
    assert(m("s2") == (("healthy", "healthy")))
    assert(m("s3") == ((null, null))) // -1 decodes to null
  }

  test("CacheOps: stable fingerprint for equal plans, checkpoint materializes once") {
    val li = s"$sfDir/lineitem.parquet"
    val a = spark.read.parquet(li).filter($"l_quantity" > 10).select("l_orderkey", "l_quantity")
    val b = spark.read.parquet(li).filter($"l_quantity" > 10).select("l_orderkey", "l_quantity")
    val c = spark.read.parquet(li).filter($"l_quantity" > 20).select("l_orderkey", "l_quantity")
    assert(CacheOps.fingerprint(a) == CacheOps.fingerprint(b))
    assert(CacheOps.fingerprint(a) != CacheOps.fingerprint(c))

    val cacheDir = java.nio.file.Files.createTempDirectory("graft-cache").toFile.getAbsolutePath
    val m1 = CacheOps.checkpoint(a, cacheDir)
    assert(m1.count() == a.count())
    // second call reads the existing materialization (same dir listing)
    val before = new java.io.File(cacheDir).listFiles().length
    CacheOps.checkpoint(b, cacheDir).count()
    assert(new java.io.File(cacheDir).listFiles().length == before)
  }

  test("checkpoint probe goes through the Hadoop FileSystem API (scheme-qualified cache dir)") {
    // a file:// URI defeats java.io.File probing (the scheme is not
    // a path component) but resolves through FileSystem — the HDFS/
    // S3 shape of the advisor-flagged silent cache defeat
    val local = java.nio.file.Files.createTempDirectory("graft-cache-fs").toFile.getAbsolutePath
    val cacheDir = s"file://$local"
    val df = spark.read.parquet(s"$sfDir/region.parquet").select("r_regionkey", "r_name")
    CacheOps.checkpoint(df, cacheDir).count()
    val sub = new java.io.File(local).listFiles().head
    val stamps = sub.listFiles().map(f => (f.getName, f.lastModified())).toSet
    Thread.sleep(1100) // parquet mtime granularity
    CacheOps.checkpoint(df, cacheDir).count()
    val after = sub.listFiles().map(f => (f.getName, f.lastModified())).toSet
    assert(after == stamps, "second checkpoint call must not rewrite the materialization")
  }

  test("metadata auto-discovery finds conventional filenames beside the data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-disc").toFile.getAbsolutePath
    Seq(("s1", 1L), ("s2", 2L)).toDF("samples", "otu1")
      .write.parquet(s"$dir/data.parquet")
    Seq(("s1", "b1"), ("s2", "b2")).toDF("samples", "batches")
      .coalesce(1).write.option("header", "true").csv(s"$dir/__tmp_meta")
    // rename to the conventional filename the reference looks for
    val part = new java.io.File(s"$dir/__tmp_meta").listFiles().find(_.getName.endsWith(".csv")).get
    val target = new java.io.File(s"$dir/sample_metadata.csv")
    java.nio.file.Files.move(part.toPath, target.toPath)

    val ds = LoadDataset.load(spark, LoadDataset.Config(dataFiles = Seq(s"$dir/data.parquet")))
    assert(ds.df.columns.contains("batches"))
    assert(ds.df.filter($"samples" === "s1").select("batches").as[String].head() == "b1")
  }

  test("loadSplits shares one label dictionary across splits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-splits").toFile.getAbsolutePath
    Seq(("s1", "a"), ("s2", "b")).toDF("samples", "labels").write.parquet(s"$dir/train.parquet")
    Seq(("s3", "c"), ("s4", "a")).toDF("samples", "labels").write.parquet(s"$dir/test.parquet")
    val splits = LoadDataset.loadSplits(spark, Map(
      "train" -> Seq(s"$dir/train.parquet"),
      "test" -> Seq(s"$dir/test.parquet")
    ), LoadDataset.Config(dataFiles = Nil))
    assert(splits("train").labelNames == Seq("a", "b", "c"))
    val testEnc = splits("test").df.select("samples", "encoded_labels").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(testEnc == Map("s3" -> 2, "s4" -> 0)) // encoded against the shared dict
  }

  test("saved IVF index: probes prune to the probed list partitions") {
    val emb = graft.sources.BioLoader.load(spark, s"$sfDir/embeddings.parquet")
    val index = IvfKnnOps.buildIndex(emb, "vec_id", "embedding", nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toFile.getAbsolutePath
    IvfKnnOps.saveIndex(index, dir)
    val loaded = IvfKnnOps.loadIndex(spark, dir)
    assert(loaded.centroids.length == 4)

    // partition pruning: filtering on list_id restricts PartitionFilters
    val probe = loaded.assigned.filter(col("list_id").isin(1, 2))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [list_id"), scan)

    // and the loaded index answers queries like the in-memory one
    val q = emb.filter($"vec_id" < 3)
    val a = IvfKnnOps.topK(q, index, "vec_id", "embedding", 3, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val b = IvfKnnOps.topK(q, loaded, "vec_id", "embedding", 3, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("IVF append: frozen-quantizer assignment lands new vectors in probed lists, on disk and in memory") {
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val index = IvfKnnOps.buildIndex(emb, "vec_id", "embedding", nLists = 8, maxIter = 3)
    val query = emb.filter(col("vec_id") === 3L)
    // plant an exact twin of query 3 via append — it must become top-1
    val twin = query.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))

    val appended = IvfKnnOps.appendToIndex(index, twin, "embedding")
    val top = IvfKnnOps.topK(query, appended, "vec_id", "embedding", 1, nProbe = 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(100003L), s"in-memory append: $top")

    // persisted path: append touches only the twin's list partition
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toFile.getAbsolutePath
    IvfKnnOps.saveIndex(index, dir)
    val mtimes = new java.io.File(s"$dir/lists").listFiles().filter(_.getName.startsWith("list_id="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    Thread.sleep(1100)
    IvfKnnOps.appendToSavedIndex(spark, dir, twin, "embedding")
    val after = new java.io.File(s"$dir/lists").listFiles().filter(_.getName.startsWith("list_id="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val touched = after.filter { case (k, v) => mtimes.get(k).forall(_ != v) }.keySet
    assert(touched.size == 1, s"append must touch exactly the twin's list partition, touched $touched")

    val reloaded = IvfKnnOps.loadIndex(spark, dir)
    val top2 = IvfKnnOps.topK(query, reloaded, "vec_id", "embedding", 1, nProbe = 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(100003L), s"persisted append: $top2")
  }

  test("IVF ANN achieves high recall vs brute force on real embeddings") {
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val brute = KnnOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val index = IvfKnnOps.buildIndex(emb, "vec_id", "embedding", nLists = 8)
    val ivf = IvfKnnOps.topK(queries, index, "vec_id", "embedding", 5, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    assert(ivf.size == brute.size)
  }

  test("IVF-PQ: 32x-compressed codes rank a planted twin first and keep recall vs exact L2 (strict codegen)") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
      val queries = emb.filter($"vec_id" < 10)
      val corpus = emb.union(queries.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
      val index = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 8, m = 8, kPerSub = 256)
      // codes are m bytes: the inverted file carries 8 bytes per vector, not 64 floats
      assert(index.encoded.schema("codes").dataType ==
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false))
      val pq = IvfKnnOps.pqTopK(queries, index, "vec_id", "embedding", 5, nProbe = 8)
      // planted exact twin: residual identical to the query's own →
      // same codes as the query would get → approximate distance is
      // pure quantization error, far below organic distances
      val top1 = pq.filter($"rank" === 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      (0L until 10L).foreach(q => assert(top1(q) == q + 100000L, s"query $q top1 ${top1(q)}"))
      // recall@5 vs exact-L2 brute force over the same corpus (l2 rank = cosine rank iff normalized; use exact l2)
      val qv = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val cv = corpus.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
      val brute = cv.join(broadcast(qv), $"query_id" =!= $"neighbor_id")
        .withColumn("d", graft.functions.VectorFunctions.l2Distance($"qv", $"cv"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id").orderBy($"d", $"neighbor_id")))
        .filter($"rn" <= 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val got = pq.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = brute.intersect(got).size.toDouble / brute.size
      assert(recall >= 0.4, s"PQ recall vs exact L2 too low: $recall")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("OPQ rotation is orthogonal and balances variance across subspaces") {
    val rng = new scala.util.Random(7)
    // anisotropic: dims 0-3 high variance, dims 4-7 near-noise —
    // with m=4 axis-aligned subspaces, two codebooks see almost
    // nothing while two starve
    val residuals = Array.fill(2000)(Array.tabulate(8)(d =>
      if (d < 4) rng.nextGaussian() * 10.0 else rng.nextGaussian() * 0.1))
    val rot = IvfKnnOps.opqRotation(residuals, m = 4)
    // R Rᵀ = I
    for (i <- 0 until 8; j <- 0 until 8) {
      val dot = (0 until 8).map(k => rot(i)(k) * rot(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RRt[$i][$j] = $dot")
    }
    // every subspace receives comparable variance: rotated-residual
    // per-subspace energy within 3x of each other (axis-aligned
    // split would be ~10000x apart)
    val energy = Array.fill(4)(0.0)
    for (r <- residuals) {
      val rr = IvfKnnOps.matVec(rot, r)
      for (s <- 0 until 4; j <- 0 until 2) energy(s) += rr(s * 2 + j) * rr(s * 2 + j)
    }
    assert(energy.max / energy.min < 3.0, energy.mkString(","))
  }

  test("OPQ cuts PQ quantization error on anisotropic data; planted twins still retrieved") {
    val rng = new scala.util.Random(11)
    val rows = (0L until 400L).map(i => (i, Array.tabulate(8)(d =>
      if (d < 4) rng.nextGaussian() * 10.0 else rng.nextGaussian() * 0.1)))
    val df = rows.toDF("vec_id", "embedding")
    def quantError(opq: Boolean): Double = {
      // plant an exact twin of every vector: the twin's TRUE
      // distance is 0, so the ADC distance reported for the
      // (query, twin) pair is purely that vector's quantization
      // error — averaged, it is the codebook's distortion
      val twins = df.select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
      val idx = IvfKnnOps.buildPqIndex(df.union(twins), "vec_id", "embedding",
        nLists = 4, m = 4, kPerSub = 16, maxIter = 8, opq = opq)
      val pq = IvfKnnOps.pqTopK(df, idx, "vec_id", "embedding", 5, nProbe = 4)
        .filter($"neighbor_id" === $"query_id" + 100000L)
      val errs = pq.select("l2sq").as[Double].collect()
      assert(errs.nonEmpty)
      errs.sum / errs.length
    }
    val plain = quantError(opq = false)
    val rotated = quantError(opq = true)
    assert(rotated < plain, s"OPQ error $rotated should beat plain PQ $plain on anisotropic data")
    // and the planted exact twin still surfaces at rank 1 under OPQ
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val corpus = emb.union(queries.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val oidx = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 8, m = 8, opq = true)
    val top1 = IvfKnnOps.pqTopK(queries, oidx, "vec_id", "embedding", 5, nProbe = 8)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 10L).foreach(q => assert(top1(q) == q + 100000L, s"query $q top1 ${top1(q)}"))
  }

  private def bits(v: Array[Double]): Seq[Long] = v.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def stateBytes(dir: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "pq_state.bin")).toSeq

  test("PQ index save/load round-trips codes, codebooks, and the OPQ rotation; probes work after reload") {
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 5)
    val corpus = emb.union(queries.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    for (opq <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toFile.getAbsolutePath
      val built = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 8, m = 8, opq = opq)
      IvfKnnOps.savePqIndex(built, dir)
      assert(new java.io.File(dir).list().toSet.filterNot(_.startsWith(".")) == Set("codes", "pq_state.bin"))
      val loaded = IvfKnnOps.loadPqIndex(spark, dir)
      assert(loaded.codebooks.m == built.codebooks.m && loaded.codebooks.subDim == built.codebooks.subDim)
      assert(loaded.centroids.map(_._1).toSeq == built.centroids.map(_._1).toSeq)
      assert(loaded.centroids.map(c => bits(c._2)).toSeq == built.centroids.map(c => bits(c._2)).toSeq)
      assert(loaded.codebooks.centers.map(_.map(bits).toSeq).toSeq == built.codebooks.centers.map(_.map(bits).toSeq).toSeq)
      if (opq) assert(loaded.codebooks.rotation.map(bits).toSeq == built.codebooks.rotation.map(bits).toSeq)
      else assert(loaded.codebooks.rotation == null)
      val top1 = IvfKnnOps.pqTopK(queries, loaded, "vec_id", "embedding", 5, nProbe = 8)
        .filter($"rank" === 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      (0L until 5L).foreach(q => assert(top1(q) == q + 100000L, s"opq=$opq query $q top1 ${top1(q)} after reload"))
    }
  }

  test("savePqIndex runs one Spark job and loadPqIndex at most one before the caller's first action") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqjobs").toFile.getAbsolutePath
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val built = IvfKnnOps.buildPqIndex(emb, "vec_id", "embedding", nLists = 8, m = 8, opq = true)
    val sc = spark.sparkContext
    val group = "pq-persist-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    def jobsIn(body: => Unit): Int = {
      org.apache.spark.graftbridge.ListenerDrain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.graftbridge.ListenerDrain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      assert(jobsIn(IvfKnnOps.savePqIndex(built, dir)) == 1)
      assert(jobsIn(IvfKnnOps.loadPqIndex(spark, dir)) <= 1)
    } finally sc.removeSparkListener(listener)
  }

  test("loadPqIndex rejects a directory without pq_state.bin, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqmissing").toFile.getAbsolutePath
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    IvfKnnOps.savePqIndex(IvfKnnOps.buildPqIndex(emb, "vec_id", "embedding", nLists = 4, m = 8), dir)
    // codes alone is what a save interrupted before its state file, or
    // an index in the older per-table layout, leaves behind
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "pq_state.bin"))
    val e = intercept[IllegalArgumentException](IvfKnnOps.loadPqIndex(spark, dir))
    assert(e.getMessage.contains(s"$dir/pq_state.bin") && e.getMessage.contains("missing"), e.getMessage)
  }

  test("loadPqIndex rejects a truncated, re-versioned, foreign or mis-shaped pq_state.bin, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqcorrupt").toFile.getAbsolutePath
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    IvfKnnOps.savePqIndex(IvfKnnOps.buildPqIndex(emb, "vec_id", "embedding", nLists = 4, m = 8, opq = true), dir)
    val state = java.nio.file.Paths.get(dir, "pq_state.bin")
    val good = java.nio.file.Files.readAllBytes(state)
    def rejects(bytes: Array[Byte], why: String): Unit = {
      java.nio.file.Files.write(state, bytes)
      // the local file system checks a stale .crc before the reader sees the bytes
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".pq_state.bin.crc"))
      val e = intercept[IllegalArgumentException](IvfKnnOps.loadPqIndex(spark, dir))
      assert(e.getMessage.contains(state.toString) && e.getMessage.contains(why), e.getMessage)
    }
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone()
      java.nio.ByteBuffer.wrap(b).putInt(at, v)
      b
    }
    rejects(java.util.Arrays.copyOf(good, good.length - 8), "truncated")
    rejects(java.util.Arrays.copyOf(good, 20), "truncated")
    rejects(good ++ Array[Byte](0), "trailing bytes")
    rejects(patched(0, 0x50415231), "bad magic")
    rejects(patched(4, 99), "format version 99")
    rejects(patched(16, 63), "centroid length 63 is not m*subDim")
    java.nio.file.Files.write(state, good)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".pq_state.bin.crc"))
    assert(IvfKnnOps.loadPqIndex(spark, dir).codebooks.rotation != null)
  }

  test("appendToSavedPqIndex encodes with frozen quantizers and lands only in touched list partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqapp").toFile.getAbsolutePath
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val built = IvfKnnOps.buildPqIndex(emb, "vec_id", "embedding", nLists = 8, m = 8, opq = true)
    IvfKnnOps.savePqIndex(built, dir)
    val stateBefore = stateBytes(dir)
    val partsBefore = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("list_id=")).map(f => f.getName -> f.lastModified()).toMap
    // append an exact twin of query 3 — one vector, one list partition
    val twin = emb.filter($"vec_id" === 3L)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    IvfKnnOps.appendToSavedPqIndex(spark, dir, twin, "vec_id", "embedding")
    assert(stateBytes(dir) == stateBefore, "append rewrote pq_state.bin")
    val loaded = IvfKnnOps.loadPqIndex(spark, dir)
    assert(loaded.encoded.count() == built.encoded.count() + 1)
    // the appended twin is retrievable with the frozen quantizers
    val top1 = IvfKnnOps.pqTopK(emb.filter($"vec_id" === 3L), loaded, "vec_id", "embedding", 3, nProbe = 8)
      .filter($"rank" === 1).select("neighbor_id").as[Long].collect()
    assert(top1.toSeq == Seq(100003L), top1.toSeq.toString)
    // only the twin's landing partition gained files
    val partsAfter = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("list_id=")).map(f => f.getName -> f.lastModified()).toMap
    val touched = partsAfter.keySet.filter(k => !partsBefore.contains(k) || partsBefore(k) != partsAfter(k))
    assert(touched.size <= 1, s"append touched $touched")
  }

  test("compactSavedPqIndex rewrites accreted append files to one per list, preserving rows and retrieval") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqcompact").toFile.getAbsolutePath
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val built = IvfKnnOps.buildPqIndex(emb, "vec_id", "embedding", nLists = 8, m = 8)
    IvfKnnOps.savePqIndex(built, dir)
    val stateBefore = stateBytes(dir)
    for (a <- 1 to 5) {
      val batch = emb.limit(50).select(($"vec_id" + 100000L * a).as("vec_id"), $"embedding")
      IvfKnnOps.appendToSavedPqIndex(spark, dir, batch, "vec_id", "embedding")
    }
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$dir/codes"))
    }
    val rowsBefore = spark.read.parquet(s"$dir/codes").count()
    val filesBefore = parquetFiles().size
    assert(filesBefore > 8, s"appends should accrete files, saw $filesBefore")
    IvfKnnOps.compactSavedPqIndex(spark, dir)
    assert(stateBytes(dir) == stateBefore, "append or compaction rewrote pq_state.bin")
    assert(parquetFiles().size <= 8, s"compact left ${parquetFiles().size} files")
    assert(!new java.io.File(s"$dir/.codes.old").exists())
    assert(!new java.io.File(s"$dir/.codes.compact").exists())
    val after = spark.read.parquet(s"$dir/codes")
    assert(after.count() == rowsBefore)
    // partition pruning still works and the appended twins retrieve
    val loaded = IvfKnnOps.loadPqIndex(spark, dir)
    val top1 = IvfKnnOps.pqTopK(emb.filter($"vec_id" === 7L), loaded, "vec_id", "embedding", 3, nProbe = 8)
      .filter($"rank" === 1).select("neighbor_id").as[Long].collect()
    assert(top1.length == 1)
  }

  test("full OPQ (alternating Procrustes) matches-or-beats parametric OPQ and keeps planted retrieval") {
    val rng = new scala.util.Random(23)
    // correlated + anisotropic: PCA alone is a good but not jointly
    // optimal rotation; the alternating loop refines against the
    // actual codebooks
    val rows = (0L until 400L).map { i =>
      val a = rng.nextGaussian() * 8; val b = rng.nextGaussian() * 5
      val base = Array(a, 0.7 * a + rng.nextGaussian(), b, 0.5 * b + rng.nextGaussian(),
        rng.nextGaussian() * 0.2, rng.nextGaussian() * 0.2, rng.nextGaussian() * 0.1, rng.nextGaussian() * 0.1)
      (i, base)
    }
    val df = rows.toDF("vec_id", "embedding")
    def twinErr(opqIters: Int): Double = {
      val twins = df.select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
      val idx = IvfKnnOps.buildPqIndex(df.union(twins), "vec_id", "embedding",
        nLists = 4, m = 4, kPerSub = 16, maxIter = 8, opq = true, opqIters = opqIters)
      if (opqIters > 0) {
        val r = idx.codebooks.rotation
        for (i <- r.indices; j <- r.indices) {
          val dot = r.indices.map(k => r(i)(k) * r(j)(k)).sum
          assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-6, s"full-OPQ RRt[$i][$j]=$dot")
        }
      }
      val pq = IvfKnnOps.pqTopK(df, idx, "vec_id", "embedding", 5, nProbe = 4)
        .filter($"neighbor_id" === $"query_id" + 100000L)
      val errs = pq.select("l2sq").as[Double].collect()
      assert(errs.nonEmpty)
      errs.sum / errs.length
    }
    val parametric = twinErr(0)
    val full = twinErr(4)
    assert(full <= parametric * 1.02,
      s"full OPQ $full should not regress vs parametric $parametric")
  }

  test("IVF-PQ re-rank: short-list re-scored on raw vectors matches exact L2 ranking over the candidate set") {
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val corpus = emb.union(queries.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val index = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 8, m = 8, kPerSub = 256)
    val rr = IvfKnnOps.pqTopKRerank(queries, index, corpus, "vec_id", "embedding", 5, nProbe = 8)
    val rows = rr.collect()
    // planted exact twin wins at rank 1 with EXACT squared distance 0
    val top1 = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("l2sq"))).toMap
    (0L until 10L).foreach { q =>
      val (n, d) = top1(q)
      assert(n == q + 100000L && d == 0.0, s"query $q top1 ($n, $d)")
    }
    // re-ranked distances are exact: every reported l2sq equals the
    // recomputed raw-vector distance (rounded the same way)
    val qvMap = queries.select($"vec_id", $"embedding".cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cvMap = corpus.select($"vec_id", $"embedding".cast("array<double>"))
      .filter($"vec_id".isin(rows.map(_.getAs[Long]("neighbor_id")).distinct: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    rows.foreach { r =>
      val q = qvMap(r.getAs[Long]("query_id")); val c = cvMap(r.getAs[Long]("neighbor_id"))
      val exact = q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(r.getAs[Double]("l2sq") - exact) < 1e-5,
        s"re-ranked distance drifted: ${r.getAs[Double]("l2sq")} vs $exact")
    }
    // monotone within each query: rank order == ascending exact distance
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("l2sq")).toSeq
      assert(byRank == byRank.sorted, s"rank order not ascending in l2sq: $byRank")
    }
  }

  test("ADC LUT path returns the same ranking and distances as the direct kernels (plain PQ and OPQ)") {
    val emb = BioLoader.load(spark, s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10)
    val corpus = emb.union(queries.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    for (opq <- Seq(false, true)) {
      val index = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 8, m = 8, opq = opq)
      def rows(lut: Boolean) =
        IvfKnnOps.pqTopK(queries, index, "vec_id", "embedding", 5, nProbe = 8, lut = lut)
          .select("query_id", "neighbor_id", "l2sq", "rank")
          .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      val direct = rows(lut = false)
      val viaLut = rows(lut = true)
      // the LUT entry accumulates (res − center)² in the same j-order
      // as the direct kernel, so rotated scores are bit-identical and
      // plain-PQ scores agree after the 6dp output round
      assert(viaLut.toSeq == direct.toSeq, s"opq=$opq: LUT ranking diverged from direct kernels")
    }
  }
}
