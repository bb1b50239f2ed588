package graft

import graft.functions.{TextFunctions => TF}
import graft.operators._
import graft.sources.BioLoader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle where the semantics are
  * ANSI-SQL-expressible (floats rounded identically on both sides;
  * every aggregate/computed column aliased identically).
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Scratch root for the registry's throwaway fixture state: the
    * index-lifecycle queries' save/append/reload round-trips and the
    * streaming runs' checkpoints. One root per JVM,
    * `<SPARK_GRAFT_SCRATCH or java.io.tmpdir>/graft-scratch/<pid>`, on
    * disk by default like the storage production deployments pass to
    * the save/load APIs and to `checkpointLocation`. (tmpfs
    * checkpoints read 0.3-0.4 s/query faster in one isolated probe,
    * SCALEPROBE_r11.md §2, and 15-20 % slower over the whole
    * streaming family in an interleaved A/B, SCALEPROBE_r14.md §4.)
    */
  private lazy val scratchRoot: java.nio.file.Path = openScratchRoot(
    java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCRATCH", System.getProperty("java.io.tmpdir")),
      "graft-scratch"))

  /** This JVM's `<pid>` root under `parent`, created after deleting
    * every sibling `<pid>` root whose process is gone — what a JVM
    * killed before its exit hooks ran leaves behind. A live sibling's
    * root (parallel forked test JVMs share `parent`) is never touched.
    */
  private[graft] def openScratchRoot(parent: java.nio.file.Path): java.nio.file.Path = {
    val self = ProcessHandle.current().pid()
    Option(parent.toFile.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      f.getName.toLongOption.foreach { pid =>
        if (pid != self && !ProcessHandle.of(pid).filter(_.isAlive).isPresent)
          deleteRecursively(f)
      }
    }
    java.nio.file.Files.createDirectories(parent.resolve(self.toString))
  }

  /** Best-effort: a file that vanishes mid-walk (another JVM sweeping
    * the same dead root) is skipped, and symlinks are unlinked, never
    * followed. */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Query-scoped scratch dir, deleted at JVM exit via Hadoop's
    * deleteOnExit hook. Registry queries materialize persisted
    * artifacts (indexes, sinks, caches) that their RESULT frames
    * read lazily, so deletion cannot be eager.
    */
  private def tmpDir(s: SparkSession, prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(p)
    d
  }

  /** Session-scoped per-(session, dir) artifact cache, keyed by the
    * session INSTANCE. WeakHashMap alone cannot evict here — the
    * cached values are DataFrames whose queryExecution strongly
    * references the key session (the classic value→key cycle the
    * WeakHashMap javadoc warns about) — so every `get` also SWEEPS
    * entries whose owning context has stopped: a long-lived JVM
    * creating sessions per job cannot accumulate dead sessions'
    * persisted-frame references, and a stale entry bound to a
    * stopped context is never handed out.
    */
  private final class SessionCache[T] {
    private val cache =
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, T]]()
    def get(s: SparkSession, dir: String)(build: => T): T = cache.synchronized {
      val it = cache.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k != null && k.sparkContext.isStopped) it.remove()
      }
      var perSession = cache.get(s)
      if (perSession == null || s.sparkContext.isStopped) {
        perSession = scala.collection.mutable.Map.empty
        cache.put(s, perSession)
      }
      perSession.getOrElseUpdate(dir, {
        // register every persistent RDD the build creates (persists
        // AND eager localCheckpoints, including transient per-round
        // ones — over-protection is bounded and safe, unprotection
        // of a lineage-truncated checkpoint is not) so a session
        // harness sweeping dead query-local checkpoint blocks
        // ([[sweepUnsharedRdds]]) can never destroy a shared
        // artifact another query still consumes
        val before = s.sparkContext.getPersistentRDDs.keySet
        val built = build
        (s.sparkContext.getPersistentRDDs.keySet -- before)
          .foreach(id => sharedRddIds.add(Int.box(id)))
        built
      })
    }
  }

  /** RDD ids backing session-shared artifacts — see [[SessionCache]]. */
  private val sharedRddIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  /** Unpersist every persistent RDD that does NOT back a session-
    * shared artifact (guide §5: unpersist when done). Query paths
    * end rounds in eager localCheckpoints whose blocks stay pinned
    * until a driver GC lets the ContextCleaner run; a long session
    * running hundreds of queries (the bench; any multi-query
    * production session) accumulates block-manager pressure that
    * evicts the shared frames hot queries actually reuse. Callers
    * (the bench harness, between timed queries; long-lived services,
    * between requests) invoke this ONLY at points where no query is
    * in flight: blocks of completed queries are dead by definition
    * (localCheckpoint lineage is truncated — nothing rebuilds them,
    * and nothing re-reads them once the owning action returned).
    */
  def sweepUnsharedRdds(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!sharedRddIds.contains(Int.box(id))) rdd.unpersist(blocking = false)
    }

  /** Shared part co-order edge frame — the graph-family queries
    * (q_triangles, q_cooccur, q_assortativity, q_clustering,
    * q_modularity, q_label_prop, q_bfs_hops, q_power_law, ...)
    * analyze the IDENTICAL `coOccurrenceEdges(lineitem)` graph;
    * rebuilding it per query paid the pair-emission shuffle 8x
    * (~35% of the r8 bench). One session-scoped persisted build
    * amortizes it: the first caller materializes (MEMORY_AND_DISK —
    * spills, never OOMs), the rest scan cached partitions.
    */
  private val coEdgeCache = new SessionCache[DataFrame]
  private[graft] def sharedCoOrderEdges(s: SparkSession, dir: String): DataFrame =
    coEdgeCache.get(s, dir) {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      // heavy-basket-guarded edge building: TPC-H orders hold <= 7
      // parts, so the 64-item cap never fires here — on real basket
      // data it bounds per-group pair emission at cap^2/2
      val e = GraphOps
        .coOccurrenceEdges(li, "l_orderkey", "l_partkey", maxGroupSize = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count() // materialize once, off every query's critical path
      e
    }

  /** The co-order graph canonicalized ONCE per (session, dir): the
    * distinct/symmetrize/degree shuffles are paid by the first
    * iterative-family consumer instead of inside every LPA round,
    * Louvain sweep, and scoring join.
    */
  private val symGraphCache = new SessionCache[GraphOps.SymGraph]
  private[graft] def sharedSymGraph(s: SparkSession, dir: String): GraphOps.SymGraph =
    symGraphCache.get(s, dir) {
      // coOccurrenceEdges output is distinct undirected with
      // src < dst by construction — the trusted path skips the
      // re-normalize shuffle over the persisted frame
      GraphOps.canonicalizeDistinct(sharedCoOrderEdges(s, dir))
    }

  /** 2-round LPA labels on the shared canonical graph — q_label_prop
    * emits them, and the Louvain refinement seeds from them (the
    * LPA-seed + guarded-merge hybrid measurably out-scores pure
    * local-move seeding on this graph: Q 0.0377 vs 0.0246 at sf0.1).
    * 2 rounds, not 3: the r12 probe measured the 2-round seed both
    * FASTER (one LPA round ≈ 1.7 s off the shared-build critical
    * path) and better after refinement (Q 0.0377 vs 0.0367 — the
    * third synchronous round over-smooths toward the label wave).
    */
  private val lpaCache = new SessionCache[DataFrame]
  private[graft] def sharedLpa(s: SparkSession, dir: String): DataFrame =
    lpaCache.get(s, dir) {
      GraphOps.labelPropagation(sharedSymGraph(s, dir), iters = 2)
    }

  /** Shared Louvain partition: contraction of the shared LPA seed +
    * 4 guarded exact-integer merge rounds. q_louvain emits the node
    * labels, q_modularity scores the SAME partition from the
    * contracted frames — the second consumer never re-touches the
    * node- or edge-sized frames.
    */
  private val louvainCache = new SessionCache[GraphOps.LouvainResult]
  private[graft] def sharedLouvain(s: SparkSession, dir: String): GraphOps.LouvainResult =
    louvainCache.get(s, dir) {
      GraphOps.louvainRefine(sharedSymGraph(s, dir), sharedLpa(s, dir),
        level1Rounds = 4, nodeCol = "node", labelCol = "label")
    }

  /** State-store partition count for the streaming queries (one
    * RocksDB instance per partition per stateful operator; results
    * are partition-count-invariant). 8 measured best for these
    * stream sizes at local[32]; override for experiments via
    * SPARK_GRAFT_STATE_PARTITIONS.
    */
  private val StreamStatePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STATE_PARTITIONS", "8").toInt

  /** SQL for the KMV 52-bit hash: fold the first 13 hex chars of a
    * md5 column `h16` digit-by-digit into a BIGINT — the identical
    * integer arithmetic `SketchOps.h52` runs.
    */
  private val Fold13: String = (1 to 13)
    .map(i => s"(CAST(instr('0123456789abcdef', substr(h16, $i, 1)) AS BIGINT) - 1)")
    .reduce((a, b) => s"($a * 16 + $b)")

  /** Half-up decimal rounding via floor — Spark's `round` is
    * HALF_UP but DuckDB's is half-even, so on fixed-decimal data
    * (where exact .5 midpoints occur) the two disagree. Both sides
    * of every oracle use this identical floor formulation instead.
    */
  private def hround(c: Column, d: Int): Column = {
    val m = math.pow(10, d)
    floor(c * m + lit(0.5)) / m
  }

  /** Flagship: the reference's load path end-to-end — load fact
    * table, broadcast-join sample metadata, encode labels, TSS
    * normalize, summarize per label (biosets load_dataset analogue).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = BioLoader.load(spark, t(dir, "lineitem"))
      .withColumnRenamed("l_orderkey", "samples")
    val meta = BioLoader.load(spark, t(dir, "orders"))
      .select(col("o_orderkey").as("samples"), col("o_orderstatus"), col("o_totalprice"))
    val joined = MetadataOps.joinSampleMetadata(li, meta, "samples")
    val labeled = LabelOps.classEncode(joined, "o_orderstatus")
    val normed = NormalizeOps.tss(labeled, "samples", "l_quantity")
    StatsOps.summarize(normed, Seq("encoded_labels"), "tss")
  }

  /** Shared customer→supplier purchase edge frame, materialized as
    * the (src, dst, deg) cache the iterative-rank family consumes —
    * q_pagerank, q_ppr, and q_hits all analyze the IDENTICAL
    * orders⋈lineitem bipartite graph; one [[GraphOps.degreeEdgeFrame]]
    * build (one shuffle, persisted) serves all three.
    */
  private val purchaseEmCache = new SessionCache[DataFrame]
  private[graft] def sharedPurchaseEm(s: SparkSession, dir: String): DataFrame =
    purchaseEmCache.get(s, dir) {
      val li = BioLoader.load(s, t(dir, "lineitem")).select("l_orderkey", "l_suppkey")
      val ord = BioLoader.load(s, t(dir, "orders")).select("o_orderkey", "o_custkey")
      val edges = ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      GraphOps.degreeEdgeFrame(edges)
    }

  /** q_pagerank and q_ppr iterate the IDENTICAL cached purchase
    * graph with the identical round structure — one fused power
    * iteration ([[GraphOps.pageRankWithPersonalizedOn]]) carries
    * both vectors as two columns of one rank frame, halving the
    * per-round join count; each query projects its column. Bit-equal
    * to the separate runs (per-column arithmetic unchanged; the
    * 1e-9 snap absorbs aggregate sum-order noise by design).
    */
  private val purchaseRanksCache = new SessionCache[DataFrame]
  private[graft] def sharedPurchaseRanks(s: SparkSession, dir: String): DataFrame =
    purchaseRanksCache.get(s, dir) {
      val seeds = BioLoader.load(s, t(dir, "supplier"))
        .filter(col("s_suppkey") < 10)
        .select(concat(lit("s"), col("s_suppkey")).as("node"))
      GraphOps.pageRankWithPersonalizedOn(sharedPurchaseEm(s, dir), seeds, iters = 3)
    }

  /** Materialize the co-order half of the session-shared graph
    * artifacts (co-order edges, canonical graph, LPA seed, Louvain
    * refinement). The bench harness calls this in its preamble and
    * reports the cost on the `_shared_graph_build` line, so a
    * single-pass run cannot charge the shared build to whichever
    * graph query happens to execute first (the r9 record charged
    * ~20 s to q_assortativity/q_modularity this way). Split from
    * the purchase-graph half so a targeted run (SPARK_GRAFT_ONLY)
    * warms only the frames its selected queries actually consume.
    */
  def warmSharedCoOrder(spark: SparkSession, dir: String): Unit =
    sharedLouvain(spark, dir).labels.count()

  /** Materialize the purchase-graph degree-edge frame consumed by
    * q_pagerank / q_ppr / q_hits. See [[warmSharedCoOrder]].
    */
  def warmSharedPurchase(spark: SparkSession, dir: String): Unit = {
    sharedPurchaseEm(spark, dir)
    ()
  }

  /** Materialize the fused global+personalized rank frame consumed
    * by q_pagerank / q_ppr (builds the purchase edge frame too).
    */
  def warmSharedPurchaseRanks(spark: SparkSession, dir: String): Unit = {
    sharedPurchaseRanks(spark, dir)
    ()
  }

  /** Both halves — the full-registry warm path. The chains are
    * independent job DAGs, so they run as concurrent Spark jobs:
    * wall-clock = max(chains), not their sum.
    */
  def warmShared(spark: SparkSession, dir: String): Unit = {
    val a = new Thread(() => warmSharedCoOrder(spark, dir))
    a.start()
    warmSharedPurchase(spark, dir)
    a.join()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- L1/C1: load + filter + projection (pushdown) ----
    "q_load_project" -> ((s, dir) => {
      BioLoader.load(s, t(dir, "lineitem"))
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), hround(col("l_extendedprice"), 2).as("price"))
    }),

    // ---- C2/N8: grouped aggregation (TPC-H Q1 shape) ----
    "q_agg" -> ((s, dir) => {
      BioLoader.load(s, t(dir, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          hround(sum("l_quantity"), 2).as("sum_qty"),
          hround(sum("l_extendedprice"), 2).as("sum_price"),
          hround(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n")
        )
    }),

    // ---- L2: sample-metadata left join, metadata-first order ----
    "q_sample_meta_join" -> ((s, dir) => {
      val data = BioLoader.load(s, t(dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val meta = BioLoader.load(s, t(dir, "orders"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      MetadataOps.joinSampleMetadata(data, meta, "l_orderkey")
    }),

    // ---- C3: broadcast dim-chain enrich join ----
    "q_join_enrich" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders"))
      val c = BioLoader.load(s, t(dir, "customer"))
      val n = BioLoader.load(s, t(dir, "nation"))
      val r = BioLoader.load(s, t(dir, "region"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderstatus"))
        .agg(hround(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
    }),

    // ---- T1: class label encoding ----
    "q_label_encode" -> ((s, dir) => {
      LabelOps.classEncode(BioLoader.load(s, t(dir, "customer")), "c_mktsegment")
        .select(col("c_custkey"), col("c_mktsegment"), col(LabelOps.TargetColumn).cast("long").as(LabelOps.TargetColumn))
    }),

    // ---- T2: binarization with missing policy ----
    "q_binarize" -> ((s, dir) => {
      LabelOps.binarize(
        BioLoader.load(s, t(dir, "orders")),
        "o_orderstatus",
        LabelOps.BinarizeSpec(positive = Seq("F"), negative = Seq("O"))
      ).select("o_orderkey", "o_orderstatus", LabelOps.TargetColumn)
    }),

    // ---- T4: deterministic train/test split ----
    "q_train_test_split" -> ((s, dir) => {
      val bucket = (col("o_orderkey") * 40503L) % 10000L
      SplitOps.trainTestSplitWith(BioLoader.load(s, t(dir, "orders")), bucket, 0.2)
        .select("o_orderkey", "split")
    }),

    // ---- T5: stratified split. WHICH rows land in test is
    //      hash-ordering-specific, but HOW MANY per label is exact:
    //      n_test(label) = floor(n(label)·f) — the stratification
    //      invariant itself is the oracle. ----
    "q_stratified_split" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders"))
      SplitOps.stratifiedSplit(o, "o_orderstatus", Seq("o_orderkey"), 0.2)
        .groupBy(col("o_orderstatus").as("label"))
        .agg(sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"))
    }),

    // ---- T6: k-fold assignment (portable bucket for the oracle) ----
    "q_kfold" -> ((s, dir) => {
      BioLoader.load(s, t(dir, "orders"))
        .withColumn("fold", ((col("o_orderkey") * 40503L) % 5L).cast("int"))
        .groupBy("fold").agg(count(lit(1)).as("n"))
    }),

    // ---- R1: melt wide→long ----
    "q_melt" -> ((s, dir) => {
      ReshapeOps.melt(BioLoader.load(s, t(dir, "part")), Seq("p_partkey"), Seq("p_retailprice", "p_size"))
    }),

    // ---- R2: pivot long→wide ----
    "q_pivot" -> ((s, dir) => {
      val p = ReshapeOps.pivot(
        BioLoader.load(s, t(dir, "lineitem")),
        "l_orderkey", "l_returnflag", "l_quantity", Seq("A", "N", "R")
      )
      p.select(col("l_orderkey"), hround(col("A"), 2).as("A"), hround(col("N"), 2).as("N"), hround(col("R"), 2).as("R"))
    }),

    // ---- R3: transpose (rows_are_features) ----
    "q_transpose" -> ((s, dir) => {
      ReshapeOps.transpose(BioLoader.load(s, t(dir, "region")), "r_name")
    }),

    // ---- L3: positional horizontal concat ----
    "q_concat_cols" -> ((s, dir) => {
      val cust = BioLoader.load(s, t(dir, "customer"))
      ReshapeOps.concatColumns(
        cust.select("c_custkey", "c_name"),
        cust.select("c_acctbal", "c_mktsegment", "c_custkey").withColumnRenamed("c_custkey", "ck2"),
        leftOrder = Seq("c_custkey"),
        rightOrder = Seq("c_acctbal", "ck2")
      )
    }),

    // ---- L7/C7: aligned union with null fill + source tag ----
    "q_union_aligned" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders"))
      ReshapeOps.unionTagged(Seq(
        "a" -> o.select("o_orderkey", "o_totalprice"),
        "b" -> o.select("o_orderkey", "o_orderstatus")
      ))
    }),

    // ---- N1: TSS relative abundance ----
    "q_tss" -> ((s, dir) => {
      NormalizeOps.tss(BioLoader.load(s, t(dir, "lineitem")), "l_orderkey", "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"), hround(col("tss"), 6).as("tss"))
    }),

    // ---- N2: CLR ----
    "q_clr" -> ((s, dir) => {
      NormalizeOps.clr(BioLoader.load(s, t(dir, "lineitem")), "l_orderkey", "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"), hround(col("clr"), 6).as("clr"))
    }),

    // ---- N3: z-score per feature ----
    "q_zscore" -> ((s, dir) => {
      NormalizeOps.zscore(BioLoader.load(s, t(dir, "lineitem")), "l_partkey", "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), hround(col("zscore"), 6).as("zscore"))
    }),

    // ---- N4: min-max per feature ----
    "q_minmax" -> ((s, dir) => {
      NormalizeOps.minmax(BioLoader.load(s, t(dir, "lineitem")), "l_partkey", "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), hround(col("minmax"), 6).as("minmax"))
    }),

    // ---- N6: zero-as-missing + group-mean imputation ----
    "q_impute" -> ((s, dir) => {
      val e = BioLoader.load(s, t(dir, "events")).withColumn("v", floor(col("value")))
      val masked = FilterOps.zeroAsMissing(e, "v")
      FilterOps.imputeGroupMean(masked, "event_type", "v", "v_imputed")
        .select(col("event_id"), col("event_type"), hround(col("v_imputed"), 6).as("v_imputed"))
    }),

    // ---- N7: prevalence filter ----
    "q_prevalence" -> ((s, dir) => {
      // restrict to a fixed feature subset so the prevalence fraction
      // is scale-invariant (per-part order count stays ~constant
      // while total orders grows with SF)
      val li = BioLoader.load(s, t(dir, "lineitem")).filter(col("l_partkey") < 100)
      FilterOps.prevalenceFilter(li, "l_orderkey", "l_partkey", "l_quantity", 0.005, exact = true)
        .groupBy("l_partkey")
        .agg(countDistinct("l_orderkey").as("n_samples"))
    }),

    // ---- C4: top-k per group ----
    "q_topk_per_group" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders"))
      val c = BioLoader.load(s, t(dir, "customer"))
      val j = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
      StatsOps.topKPerGroup(j, Seq("c_mktsegment"), "o_totalprice", "o_orderkey", 3)
    }),

    // ---- C9: describe ----
    "q_describe" -> ((s, dir) => {
      val d = StatsOps.describeAll(BioLoader.load(s, t(dir, "lineitem")), Seq("l_quantity", "l_extendedprice", "l_discount"))
      d.select(col("column"), col("n"), hround(col("mean"), 6).as("mean"),
        hround(col("min"), 6).as("min"), hround(col("max"), 6).as("max"), hround(col("stddev"), 6).as("stddev"))
    }),

    // ---- C5/C6: value counts ----
    "q_value_counts" -> ((s, dir) => {
      StatsOps.valueCounts(BioLoader.load(s, t(dir, "documents")), "lang")
    }),

    // ---- D1/X4: exact dedup groups via md5 content key ----
    "q_dedup_exact" -> ((s, dir) => {
      DedupOps.exactGroups(BioLoader.load(s, t(dir, "documents")), "doc_id", md5(col("text")))
    }),

    // ---- D2: MinHash LSH near-dup pairs ----
    "q_dedup_minhash" -> ((s, dir) => {
      // 64 bands of 4 (see q_dedup_all): the exact-jaccard oracle
      // needs boundary recall ~1 — the 16-band default missed two
      // organic 0.74 pairs at sf1 (P(miss) ≈ 0.3% each, caught by
      // the r12 PPJoin cross-check)
      DedupOps.minhashLsh(BioLoader.load(s, t(dir, "documents")), "doc_id", "text",
        shingleSize = 3, numHashes = 256, rowsPerBand = 4, threshold = 0.7)
        .select(col("id_a"), col("id_b"), hround(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- D3: SimHash near-dup pairs. Hamming distances are
    //      hash-algorithm-specific, so the DuckDB oracle grades a
    //      planted-fixture RECALL gate instead: every doc gets an
    //      UPPERCASED twin (id+100000) — textually different rows
    //      that exact-dedup cannot pair, but whose simhash is
    //      provably identical because tokenization lowercases — and
    //      the pipeline must recover all 500 twin pairs at hamming 0
    //      through the full candidate→bucket→verify path. Organic
    //      near-dup behavior is covered by ScalaTest invariants
    //      (DedupKnnTextSpec) on the same corpus. ----
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents")).select("doc_id", "text")
      val twins = docs.select((col("doc_id") + 100000L).as("doc_id"), upper(col("text")).as("text"))
      // maxBucket retuned from the overflow telemetry at the r15
      // 10x doc axis (the cap's documented workflow): the 30-word
      // synthetic vocabulary concentrates signatures until 30
      // quarter-buckets exceed the 1000 default (max 6742 members at
      // 100k rows), and 36 twin pairs had ALL FOUR quarters dropped.
      // 8192 clears the measured max with headroom; Σm² over the
      // big buckets ≈ 1.3e8 fused comparisons — seconds, not a skew
      // cliff. Real corpora keep the 1000 default + q_hamming_overflow.
      DedupOps.simhash(docs.union(twins), "doc_id", "text", maxHamming = 3,
        maxBucket = 8192)
        .filter(col("id_b") === col("id_a") + 100000L)
        .orderBy("id_a")
    }),

    // ---- D4: n-gram Jaccard similarity join ----
    // adaptive prefix ordering: the sampled collision probe picks
    // the 1-shuffle hash-order plan on this low-dup corpus and the
    // flood-proof frequency plan on dup-heavy ones — output is
    // order-invariant, so the oracle is unchanged either way
    "q_ngram_jaccard" -> ((s, dir) => {
      DedupOps.ngramJaccardAuto(BioLoader.load(s, t(dir, "documents")), "doc_id", "text",
        shingleSize = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"), hround(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- D7: transitive dup-cluster resolution (connected
    //      components over chain edges within prefix-fingerprint
    //      groups — chains force multi-round label propagation,
    //      while the expected labels stay SQL-expressible: min id
    //      per group) ----
    "q_dup_clusters" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val keyed = docs.select(md5(substring(col("text"), 1, 30)).as("k"), col("doc_id"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("doc_id")
      val chain = keyed
        .withColumn("prev", lag("doc_id", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      DedupOps.dupClusters(chain)
    }),

    // ---- D5: embedding near-dup. The corpus has no organic
    //      high-cosine pairs (max pairwise cosine ≈ 0.51), so the
    //      oracle grades planted near-duplicates: each vector gets a
    //      twin (id+100000) with dim 0 scaled by 1.01 — cosine ≥
    //      0.9999875 analytically (≥ 1 − (0.01)²/8), which rounds to
    //      1.0 at 3 decimals — and multi-table LSH (4 tables × 8
    //      bits) drives the per-pair miss probability below 1e-7.
    //      All 500 twin pairs must surface; organic pairs stay below
    //      the 0.999 verify threshold. ----
    "q_embed_dedup" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, x * lit(1.01f)).otherwise(x)).as("embedding"))
      DedupOps.embeddingDedup(emb.union(twins), "vec_id", "embedding",
        threshold = 0.999, nBits = 8, nTables = 4)
        .filter(col("id_b") === col("id_a") + 100000L)
        .select(col("id_a"), col("id_b"), hround(col("cosine"), 3).as("cosine"))
        .orderBy("id_a")
    }),

    // ---- D10: SemDeDup-style semantic dedup — k-means clusters as
    //      buckets, planted perturbed twins (same fixture as
    //      q_embed_dedup) must pair up within their cluster ----
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, x * lit(1.01f)).otherwise(x)).as("embedding"))
      // nProbe 2: a twin pair straddling a Voronoi boundary under
      // single assignment would never be compared — multi-probe
      // makes the planted oracle robust to any quantizer fit.
      // nClusters 128 (was 16): buckets must stay under the
      // capped-collect maxBucket at every graded SF — sf1's 16k
      // vectors over 16 clusters averaged exactly the cap and the
      // drop silently lost half the planted twins (r12 sweep;
      // semanticOverflowReport is the production-side signal)
      DedupOps.semanticDedup(emb.union(twins), "vec_id", "embedding",
        threshold = 0.999, nClusters = 128, nProbe = 2)
        .filter(col("id_b") === col("id_a") + 100000L)
        .select(col("id_a"), col("id_b"), hround(col("cosine"), 3).as("cosine"))
    }),

    // ---- S1/S3: brute-force cosine top-k ----
    "q_knn_brute" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings"))
      KnnOps.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
    }),

    // ---- S2: LSH ANN top-k. ANN on this corpus's random far-apart
    //      vectors has no structure to exploit, so the oracle grades
    //      planted-NN RETRIEVAL: each query vector gets an exact-copy
    //      twin (id+100000) in the corpus; identical vectors hash to
    //      identical buckets, so multi-probe LSH must return the twin
    //      at rank 1 / cosine 1.0 for every query. Ranks 2..k are
    //      hash-dependent and stay out of the graded projection. ----
    "q_knn_lsh" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val corpus = emb.union(queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      KnnOps.lshTopK(queries, corpus, "vec_id", "embedding", 5, nBits = 8)
        .filter(col("rank") === 1)
    }),

    // ---- S8: recall@k harness — the nBits/probes/nProbe tuning
    //      loop as an operator: approx vs exact joined on the pair
    //      key, per-query hit counts. Planted twins make the
    //      expected recall structural: the exact top-1 is the
    //      cosine-1.0 twin, which shares the query's LSH bucket by
    //      identity, so recall@1 is exactly 1.0 per query. ----
    "q_knn_recall" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 20)
      val corpus = emb.union(queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val exact = KnnOps.bruteForceTopK(queries, corpus, "vec_id", "embedding", 1)
      val approx = KnnOps.lshTopK(queries, corpus, "vec_id", "embedding", 1, nBits = 10)
      KnnOps.recallAtK(approx, exact, 1)
    }),

    // ---- S4: IVF ANN top-k — same planted-NN retrieval gate as
    //      q_knn_lsh: the twin lands in the query's own nearest
    //      list (identical vector → identical centroid assignment),
    //      which is always the first probed list. ----
    "q_knn_ivf" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val corpus = emb.union(queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val index = IvfKnnOps.buildIndex(corpus, "vec_id", "embedding", nLists = 16, maxIter = 5)
      IvfKnnOps.topK(queries, index, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
    }),

    // ---- S16: FILTERED ANN — predicate-constrained top-k. Each
    //      query gets TWO planted exact twins (cosine 1.0): the
    //      EXCLUDED one at +100000 ('de') and the INCLUDED one at
    //      +200000 ('en'). The top-k tiebreak is (cosine desc, id
    //      asc), so a broken/no-op filter returns +100000 — the
    //      oracle demands +200000, making the predicate itself the
    //      thing under test, not just the ranking. Base corpus rows
    //      carry a parity tag for realistic partial selectivity. ----
    "q_knn_filtered" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 20)
      val tagged = emb.withColumn("tag",
        when(col("vec_id") % 2 === 0, "en").otherwise("de"))
      val twinDe = queries.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding"), lit("de").as("tag"))
      val twinEn = queries.select((col("vec_id") + 200000L).as("vec_id"),
        col("embedding"), lit("en").as("tag"))
      val corpus = tagged.union(twinDe).union(twinEn)
      val index = IvfKnnOps.buildIndex(corpus, "vec_id", "embedding", nLists = 16, maxIter = 5)
      IvfKnnOps.topKFiltered(queries, index, "vec_id", "embedding", 5, nProbe = 4,
        predicate = col("tag") === "en")
        .filter(col("rank") === 1)
    }),

    // ---- S16b: ADAPTIVE filtered ANN — the selectivity-widening
    //      rule (nProbe' = nProbe/selectivity, capped at nLists)
    //      made code, with a fixture the FIXED width provably fails:
    //      hand-placed one-hot centroids; every predicate survivor
    //      ('rare') lives on axis 7 — the LAST list in every query's
    //      probe order — so nProbe=4 of 8 reaches zero survivors
    //      (fixed_rows = 0), while the measured ~0.1% selectivity
    //      widens the probe to the nLists cap (= filtered brute
    //      force) and must return each query's own signature twin:
    //      cosine = cos(θ_i−θ_j)/101, maximized at j=i → 1/101 →
    //      0.009901 on the 1e-6 grid, closed form for the oracle. ----
    "q_knn_adaptive" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id")
      val queries = emb.filter(col("vec_id") < 20).select(col("vec_id"),
        expr("cast(array(10.0d, cos(vec_id * pi()/40), sin(vec_id * pi()/40)," +
          " 0d, 0d, 0d, 0d, 0d) as array<float>)").as("vec"))
      val common = emb.select(col("vec_id"),
        expr("transform(sequence(0, 7), j -> cast(if(j = vec_id % 7, 10.0d, 0.0d) as float))")
          .as("vec"),
        (col("vec_id") % 7).cast("int").as("list_id"), lit("common").as("tag"))
      val rare = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 300000L).as("vec_id"),
        expr("cast(array(0d, cos(vec_id * pi()/40), sin(vec_id * pi()/40)," +
          " 0d, 0d, 0d, 0d, 10.0d) as array<float>)").as("vec"),
        lit(7).as("list_id"), lit("rare").as("tag"))
      val index = IvfKnnOps.IvfIndex(
        Array.tabulate(8)(j => (j, Array.tabulate(8)(i => if (i == j) 10.0 else 0.0))),
        common.union(rare))
      val pred = col("tag") === "rare"
      val fixedCnt = IvfKnnOps
        .topKFiltered(queries, index, "vec_id", "vec", 5, nProbe = 4, predicate = pred)
        .groupBy(col("query_id")).agg(count(lit(1)).as("fixed_rows"))
      IvfKnnOps
        .topKFilteredAdaptive(queries, index, "vec_id", "vec", 5, nProbe = 4, predicate = pred)
        .filter(col("rank") === 1)
        .join(fixedCnt, Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"),
          coalesce(col("fixed_rows"), lit(0L)).as("fixed_rows"))
    }),

    // ---- S17: FILTERED ANN over the PERSISTED index — the serving
    //      path: save → load → predicate probe. Same planted-twin
    //      fixture as q_knn_filtered (excluded 'de' twin wins any
    //      broken filter by tiebreak; included 'en' twin is the
    //      demanded rank-1), but the inverted file now lives on disk,
    //      so the predicate reaches the parquet reader as a PUSHED
    //      filter and the probed lists prune partitions (the plan
    //      guard in IvfKnnPersistSpec pins both). ----
    "q_knn_filtered_persist" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 20)
      val tagged = emb.withColumn("tag",
        when(col("vec_id") % 2 === 0, "en").otherwise("de"))
      val twinDe = queries.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding"), lit("de").as("tag"))
      val twinEn = queries.select((col("vec_id") + 200000L).as("vec_id"),
        col("embedding"), lit("en").as("tag"))
      val corpus = tagged.union(twinDe).union(twinEn)
      val path = tmpDir(s, "graft-ivf-fp") + "/idx"
      IvfKnnOps.saveIndex(
        IvfKnnOps.buildIndex(corpus, "vec_id", "embedding", nLists = 16, maxIter = 5), path)
      IvfKnnOps.topKFiltered(queries, IvfKnnOps.loadIndex(s, path),
        "vec_id", "embedding", 5, nProbe = 4, predicate = col("tag") === "en")
        .filter(col("rank") === 1)
    }),

    // ---- S13: kNN GRAPH — every corpus vector's top-k neighbors in
    //      one distributed pass (TopCentroids scan-stage probes +
    //      ONE list_id shuffle-hash join; no broadcast of the n-row
    //      query side, no n² pair scan). Oracle: 50 planted twins
    //      must be each other's rank-1 at cosine 1.0 IN BOTH
    //      DIRECTIONS — the graph property topK-with-a-query-subset
    //      never exercises. ----
    "q_knn_graph" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val corpus = emb.union(twins)
      IvfKnnOps.knnGraph(corpus, "vec_id", "embedding", k = 3, nLists = 16,
        nProbe = 4, maxIter = 5)
        .filter((col("query_id") < 50 ||
          (col("query_id") >= 100000L && col("query_id") < 100050L)) &&
          col("rank") === 1)
    }),

    // ---- S11: STREAMING IVF index maintenance — the planted
    //      twins arrive as a STREAM through foreachBatch appends
    //      against the frozen quantizer; rank-1 retrieval from the
    //      reloaded index finds every twin iff the streamed rows
    //      landed in the right lists. ----
    "q_stream_ivf" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val index = IvfKnnOps.buildIndex(emb, "vec_id", "embedding", nLists = 16, maxIter = 5)
      val tmp = tmpDir(s, "graft-sivf")
      val path = tmp + "/idx"
      IvfKnnOps.saveIndex(index, path)
      val twinStream = streamTable(s, dir, "embeddings",
          "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val mq = IvfKnnOps.maintainSavedIndexStream(s, path, twinStream,
        "embedding", tmp + "/ckpt")
      try { mq.processAllAvailable() } finally mq.stop()
      val loaded = IvfKnnOps.loadIndex(s, path)
      IvfKnnOps.topK(queries, loaded, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
    }),

    // ---- S12: recall-triggered IVF refit — the offline half of the
    //      incremental-ANN serving loop. Negated twins of the first
    //      50 vectors drift into a region the frozen quantizer never
    //      fitted (scattered across lists), the nProbe=1 recall probe
    //      sinks below threshold, the trigger refits + atomically
    //      swaps, and each drifted query's rank-1 is its planted
    //      twin — the part the oracle can grade exactly. ----
    "q_ivf_refit" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val index = IvfKnnOps.buildIndex(emb, "vec_id", "embedding", nLists = 16, maxIter = 5)
      val tmp = tmpDir(s, "graft-refit")
      val path = tmp + "/idx"
      IvfKnnOps.saveIndex(index, path)
      val neg = (c: Column) => transform(c, x => -x)
      val drift = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), neg(col("embedding")).as("embedding"))
      IvfKnnOps.appendToSavedIndex(s, path, drift, "embedding")
      val probes = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 9000000L).as("vec_id"), neg(col("embedding")).as("embedding"))
      IvfKnnOps.refitSavedIndexIfRecallBelow(s, path, probes, "vec_id", "embedding",
        k = 5, nProbe = 1, minRecall = 0.9, nLists = 17)
      val loaded = IvfKnnOps.loadIndex(s, path)
      IvfKnnOps.topK(probes, loaded, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
    }),

    // ---- S6: IVF-PQ ANN — planted-NN retrieval through m-byte
    //      codes: the twin's PQ code reconstructs to the same point
    //      as the query's own encoding, so its approximate distance
    //      is the quantization-error floor, far below any organic
    //      candidate. l2sq itself is codebook-dependent and stays
    //      out of the graded projection. ----
    "q_knn_pq" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val corpus = emb.union(queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val index = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 16, m = 8, maxIter = 5)
      IvfKnnOps.pqTopK(queries, index, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
        .select("query_id", "neighbor_id", "rank")
    }),

    // ---- S7: IVF-OPQ — parametric OPQ rotation (PCA + balanced
    //      eigenvalue allocation) before subspace quantization; the
    //      planted exact twin has residual identical to the query's,
    //      so rotation preserves retrieval at rank 1 ----
    "q_knn_opq" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val corpus = emb.union(queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val index = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding",
        nLists = 16, m = 8, maxIter = 5, opq = true)
      IvfKnnOps.pqTopK(queries, index, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
        .select("query_id", "neighbor_id", "rank")
    }),

    // ---- S6b: IVF-PQ with exact re-rank — the short-list is
    //      re-scored on raw vectors, so the planted exact twin must
    //      surface at rank 1 with an exact squared-L2 of 0.0 (a
    //      strictly stronger oracle than code-space retrieval) ----
    "q_knn_pq_rerank" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val corpus = emb.union(queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val index = IvfKnnOps.buildPqIndex(corpus, "vec_id", "embedding", nLists = 16, m = 8, maxIter = 5)
      IvfKnnOps.pqTopKRerank(queries, index, corpus, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
        .select("query_id", "neighbor_id", "l2sq", "rank")
    }),

    // ---- S5: per-group embedding centroid (custom TypedImperativeAggregate) ----
    "q_vec_centroid" -> ((s, dir) => {
      BioLoader.load(s, t(dir, "embeddings"))
        .groupBy("label")
        .agg(graft.functions.VectorAggregates.vecMean(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "mean")))
        .select(col("label"), col("dim"), hround(col("mean"), 6).as("mean"))
    }),

    // ---- X1: language ID ----
    "q_langid" -> ((s, dir) => {
      TextOps.langId(BioLoader.load(s, t(dir, "documents")), "text")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    }),

    // ---- X5: PII redaction. The corpus has no organic PII, so each
    //      doc gets a planted contact tail (email + phone + URL +
    //      IP) — the oracle replays the SAME RE2-compatible patterns
    //      in DuckDB over the same planted text, a full-semantics
    //      equality check per row. ----
    "q_pii_redact" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat(col("text"),
          lit(" reach john.doe@example.com or +1 (555) 123-4567 via https://ex.com/a?b=1 from 10.0.0.1")))
      TextOps.redactPii(docs, "text")
        .select(col("doc_id"), md5(col("text_redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // ---- X2: quality scoring ----
    "q_quality" -> ((s, dir) => {
      TextOps.qualityScore(BioLoader.load(s, t(dir, "documents")), "text")
        .select("doc_id", "mean_word_len", "punct_density", "digit_density", "unique_ratio", "quality")
    }),

    // ---- X3: token counting ----
    "q_tokens" -> ((s, dir) => {
      TextOps.tokenCounts(BioLoader.load(s, t(dir, "documents")), "text")
        .select(col("doc_id"), col("n_tokens_ws").cast("long").as("n_tokens_ws"))
    }),

    // ---- X6: Gopher-style repetition signals. The corpus is
    //      single-line and md5-distinct, so each doc gets a planted
    //      repeated line (its own 40-char prefix, twice) — every
    //      signal is exercised and the oracle replays the identical
    //      construction. ----
    "q_repetition" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat_ws("\n",
          col("text"), substring(col("text"), 1, 40), substring(col("text"), 1, 40)))
      TextOps.repetitionStats(docs, "text")
        .select("doc_id", "dup_line_frac", "dup_line_char_frac", "dup_3gram_frac")
    }),

    // ---- X7: canonical text normalization (NFC + case + whitespace
    //      fold). Planted decomposed accent: "Cafe" + combining
    //      acute (U+0301) composes to café under NFC — without the
    //      normalizer the md5 differs from the oracle's
    //      nfc_normalize, so the check is semantic, not a no-op. ----
    "q_normalize" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat(col("text"), lit(" Cafe\u0301   MIXED  tail")))
      TextOps.normalizeText(docs, "text")
        .select(col("doc_id"), md5(col("text_norm")).as("norm_md5"))
    }),

    // ---- D8: membership dedup against a reference corpus (Bloom
    //      prefilter + exact anti-join verify). Corpus = every 7th
    //      doc; survivors are exactly the docs whose text is not in
    //      it. ----
    "q_corpus_dedup" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val corpus = docs.filter(col("doc_id") % 7 === 0).select("text")
      DedupOps.dedupAgainstCorpus(docs, corpus, "text", expectedCorpusItems = 10000L)
        .select("doc_id")
    }),

    // ---- D9: benchmark decontamination — docs sharing any word
    //      5-gram with the eval set are removed. Every 11th doc is
    //      planted with an eval sentence; the oracle computes the
    //      TRUE 5-gram-set intersection in SQL. ----
    "q_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val evalDf = Seq(
        "the secret holdout benchmark sentence for contamination screening",
        "another hidden evaluation phrase guarded against training data leakage"
      ).toDF("text")
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" the secret holdout benchmark sentence for contamination screening")))
          .otherwise(col("text")))
      DedupOps.decontaminate(docs, evalDf, "text", "doc_id", n = 5, expectedEvalShingles = 1000L)
        .select("doc_id")
    }),

    // ---- G1: per-source quota (data-mixing cap) ----
    "q_mix_quota" -> ((s, dir) => {
      MixOps.perGroupQuota(BioLoader.load(s, t(dir, "documents")), "source", Seq("doc_id"), 10)
        .select("doc_id", "source")
    }),

    // ---- G2: percentile-gated quality filter (top 20% by score) ----
    "q_quantile_filter" -> ((s, dir) => {
      val scored = TextOps.qualityScore(BioLoader.load(s, t(dir, "documents")), "text")
      MixOps.filterByQuantile(scored, "quality", 0.8)
        .select("doc_id", "quality")
    }),

    // ---- G2b: per-GROUP percentile gate (top 20% by quality
    //      WITHIN each language — high-resource languages cannot
    //      crowd out the rest). Thresholds = one groupBy percentile
    //      aggregate broadcast back; fact side never shuffles. ----
    "q_group_quantile" -> ((s, dir) => {
      val scored = TextOps.qualityScore(BioLoader.load(s, t(dir, "documents")), "text")
      MixOps.filterByQuantilePerGroup(scored, "quality", "lang", 0.8)
        .select("doc_id", "lang", "quality")
    }),

    // ---- G4: token-window chunking with overlap (cut docs to
    //      <=50 tokens, 10-token context overlap) ----
    "q_chunk" -> ((s, dir) => {
      MixOps.chunkDocs(BioLoader.load(s, t(dir, "documents")), "doc_id", "text",
        maxTokens = 50, overlap = 10)
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("chunk_md5"))
    }),

    // ---- G3: FFD sequence packing. WHICH bin a doc lands in is
    //      partition-layout-specific; the packing INVARIANTS are
    //      exact and oracle them: every doc packed exactly once,
    //      token totals preserved, and no multi-doc bin over
    //      budget. ----
    "q_pack" -> ((s, dir) => {
      val toks = TextOps.tokenCounts(BioLoader.load(s, t(dir, "documents")), "text")
        .select(col("doc_id"), col("n_tokens_ws").cast("long").as("n_tokens"))
      val packed = MixOps.packSequences(toks, "doc_id", "n_tokens", maxTokens = 512L)
      val bins = packed.groupBy("bin_id")
        .agg(sum("n_tokens").as("bin_tokens"), count(lit(1)).as("bin_docs"))
      packed.agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("doc_id").as("n_distinct_docs"))
        .crossJoin(bins.agg(
          sum(when(col("bin_tokens") > 512L && col("bin_docs") > 1, 1L).otherwise(0L)).as("n_violations")))
    }),

    // ---- N8/L4: feature-metadata-driven hierarchical rollup ----
    "q_rollup" -> ((s, dir) => {
      val fact = BioLoader.load(s, t(dir, "lineitem"))
      val mapping = BioLoader.load(s, t(dir, "part"))
        .select(col("p_partkey").as("l_partkey"), col("p_type"))
      val r = StatsOps.rollup(fact, mapping, "l_partkey", "p_type", "l_orderkey", "l_quantity")
      r.select(col("l_orderkey"), col("p_type"), hround(col("l_quantity"), 2).as("l_quantity"))
    }),

    // ---- C11: struct flatten (HF Dataset.flatten) ----
    "q_flatten" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          struct(col("l_partkey").as("pk"), hround(col("l_quantity"), 2).as("qty")).as("item"))
      ReshapeOps.flattenStructs(li)
    }),

    // ---- C10: as-of (point-in-time) join ----
    "q_asof_join" -> ((s, dir) => {
      val events = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .select("event_id", "user_id", "ts")
      val orders = BioLoader.load(s, t(dir, "orders"))
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_totalprice").as("matched_price"))
      AsofJoinOps.asofBackward(events, orders, "user_id", "ts", "o_orderdate", Seq("o_orderdate", "matched_price"))
        .select(col("event_id"), col("user_id"), col("o_orderdate").as("matched_date"), col("matched_price"))
    }),

    // ---- C10b: as-of via the custom LogicalPlan+Strategy+SparkPlan
    //      operator (zero fact-side shuffle) — same oracle as q_asof_join ----
    "q_asof_broadcast" -> ((s, dir) => {
      val events = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .select("event_id", "user_id", "ts")
      val orders = BioLoader.load(s, t(dir, "orders"))
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_totalprice").as("matched_price"))
      graft.plans.BroadcastAsofJoin
        .asofBroadcast(events, orders, "user_id", "ts", "o_orderdate", Seq("o_orderdate", "matched_price"))
        .select(col("event_id"), col("user_id"), col("o_orderdate").as("matched_date"), col("matched_price"))
    }),

    // ---- C10c: tolerance-bounded as-of — clicks pick up the most
    //      recent purchase value per user, but no staler than 30
    //      minutes; beyond-tolerance matches null out, left rows
    //      survive (still a LEFT join). ----
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("pts"))
        .agg(max("value").as("matched_value"))
      AsofJoinOps.asofBackward(clicks, purchases, "user_id", "ts", "pts",
          Seq("matched_value"), toleranceSeconds = Some(1800L))
        .select(col("event_id"), col("user_id"), col("matched_value"))
    }),

    // ---- M3: sessionization (batch twin of the streaming state machine) ----
    "q_sessionize" -> ((s, dir) => {
      import s.implicits._
      val events = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams.sessionizeBatchComplete(events, gapMs = 30 * 60 * 1000L)
        .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"),
          hround(col("total_value"), 6).as("total_value"))
    }),

    // ---- M1: multimodal binary-column plumbing (stub codec). The
    //      oracle grades the PLUMBING — id mapping, byte-exact
    //      content transport through the media frame (md5), and the
    //      codec batch contract (every row decoded to the declared
    //      dim) — which is the real operator here; the stub's
    //      feature VALUES are env-specific codec stand-ins and stay
    //      ungraded by design. ----
    "q_multimodal" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val media = graft.multimodal.MultimodalOps.asMediaFrame(
        docs.withColumn("bytes", col("text").cast("binary")), "doc_id", "bytes", "text/plain")
      val feats = graft.multimodal.MultimodalOps.extractFeatures(media, dim = 8)
      feats.join(media, Seq("media_id"))
        .select(col("media_id"), length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_md5"), size(col("features")).as("feat_dim"))
        .orderBy("media_id")
    }),

    // ---- M1d: perceptual image dedup — REAL PNG decode → dHash64
    //      → quarter-band hamming pairs. The fixture plants 8 image
    //      classes ≥16 hamming apart with per-doc brightness noise
    //      (bytes differ, gradients don't): a broken hash either
    //      over-pairs across classes or misses the planted twins,
    //      so the class-arithmetic oracle discriminates. ----
    "q_image_dedup" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .select("doc_id").filter(col("doc_id") < 500)
      val gen = udf((id: Long) =>
        graft.multimodal.MultimodalOps.classPatternPng((id % 8).toInt, (id % 5).toInt))
      graft.multimodal.MultimodalOps.perceptualDedup(
        docs.withColumn("content", gen(col("doc_id"))), "doc_id", "content", maxHamming = 3)
    }),

    // ---- X23: canonical-URL dedup — four scrape variants of each
    //      planted page (case/port/fragment, www + tracking params,
    //      trailing slash) must collapse to ONE canonical string;
    //      the oracle pins the exact canonical output. ----
    "q_url_dedup" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .select("doc_id").filter(col("doc_id") < 500)
        .withColumn("k", (col("doc_id") % 125).cast("long"))
        .withColumn("v", floor(col("doc_id") / 125))
      val base = concat(lit("site"), col("k"), lit(".com/p"), col("k"))
      val variants = docs.withColumn("url",
        when(col("v") === 0, concat(lit("https://"), base))
          .when(col("v") === 1, concat(lit("HTTPS://SITE"), col("k"), lit(".COM:443/p"), col("k"), lit("#frag")))
          .when(col("v") === 2, concat(lit("https://www.site"), col("k"), lit(".com/p"), col("k"), lit("?utm_source=x&gclid=1")))
          .otherwise(concat(lit("https://"), base, lit("/"))))
      TextOps.urlDedupGroups(variants, "doc_id", "url")
    }),

    // ---- M1e: audio near-dup — REAL WAV decode → 65-slice
    //      energy-envelope fingerprint → quarter-band hamming
    //      pairs. Per-doc gain scaling (bytes differ, energy-delta
    //      signs don't) plays the brightness role of q_image_dedup. ----
    "q_audio_dedup" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .select("doc_id").filter(col("doc_id") < 500)
      val gen = udf((id: Long) =>
        graft.multimodal.MultimodalOps.classPatternWav((id % 8).toInt, 1.0 / (1 + (id % 3))))
      graft.multimodal.MultimodalOps.audioDedup(
        docs.withColumn("content", gen(col("doc_id"))), "doc_id", "content", maxHamming = 3)
    }),

    // ---- M1d/M1e telemetry: the hammingPairs64 cap must not be
    //      silent. Four constant-signature media classes (bytes
    //      differ per copy via brightness/gain, the 64-bit
    //      signatures don't) replicated r = 40 + 10·cls times with
    //      maxBucket = 50: only the r ∈ {60, 70} classes may
    //      surface, each as 4 quarter-band buckets of exactly r
    //      members — the lost-pair arithmetic is closed-form, so
    //      the report itself is oracled (same discipline as D12's
    //      q_overflow_report). ----
    "q_hamming_overflow" -> ((s, dir) => {
      val copies = BioLoader.load(s, t(dir, "documents")).select("doc_id")
        .filter(col("doc_id") < 4)
        .withColumn("r", (lit(40) + (col("doc_id") % 4) * 10).cast("int"))
        .select(col("doc_id"), explode(sequence(lit(1), col("r"))).as("c"))
      val genPng = udf((cls: Long, c: Long) =>
        graft.multimodal.MultimodalOps.classPatternPng(cls.toInt, (c % 5).toInt))
      val genWav = udf((cls: Long, c: Long) =>
        graft.multimodal.MultimodalOps.classPatternWav(cls.toInt, 1.0 / (1 + (c % 3))))
      def fold(rep: DataFrame, family: String): DataFrame = rep
        .groupBy("n_members")
        .agg(count(lit(1)).as("n_buckets"), sum("n_lost_pairs").as("lost_pairs"))
        .select(lit(family).as("family"), col("n_members"), col("n_buckets"), col("lost_pairs"))
      val img = graft.multimodal.MultimodalOps.perceptualOverflowReport(
        copies.select((col("doc_id") * 1000 + col("c")).as("id"),
          genPng(col("doc_id"), col("c")).as("content")),
        "id", "content", maxBucket = 50)
      val aud = graft.multimodal.MultimodalOps.audioOverflowReport(
        copies.select((col("doc_id") * 1000 + col("c")).as("id"),
          genWav(col("doc_id"), col("c")).as("content")),
        "id", "content", maxBucket = 50)
      fold(img, "image").unionByName(fold(aud, "audio"))
    }),

    // ---- D12c: radius-beyond-3 hamming pairs — the multi-index
    //      probed banding (Norouzi 2012) that real perceptual dedup
    //      needs (dHash/audio twins sit at r ≈ 5-7, where the old
    //      quarter-banding refused). Planted signatures: 8 classes
    //      ≥16 apart in the low 48 bits; within a class, variant v
    //      flips a DISJOINT v-dependent block of the top bits
    //      (0/3/5/7 bits), so within-class distances are exactly
    //      {3,5,7} against v=0 and {8,10,12} between v≥1 — the
    //      maxHamming=7 cut keeps precisely the v=0 pairs with a
    //      closed-form distance, making the whole pair set (incl.
    //      the planted radius-5 and radius-7 twins) oracle-exact. ----
    "q_hamming_r7" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .select("doc_id").filter(col("doc_id") < 32)
      val c = col("doc_id") % 8
      val v = shiftright(col("doc_id"), 3)
      val base = c.bitwiseAND(lit(1L)) * lit(65535L) +
        shiftright(c, 1).bitwiseAND(lit(1L)) * lit(65535L << 16) +
        shiftright(c, 2).bitwiseAND(lit(1L)) * lit(65535L << 32)
      val mask = when(v === 1, lit(7L << 48))
        .when(v === 2, lit(31L << 51))
        .when(v === 3, lit(127L << 56))
        .otherwise(lit(0L))
      graft.operators.DedupOps.hammingPairs64(
        d.select(col("doc_id").as("id"), base.bitwiseXOR(mask).as("sig")),
        "id", "sig", maxHamming = 7)
    }),

    // ---- C13: salted join for skewed keys — must be result-
    //      identical to the plain join (the oracle IS the plain
    //      join), while spreading each hot key over saltFactor
    //      reducers ----
    "q_salted_join" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem")).select("l_orderkey", "l_partkey", "l_quantity")
      val o = BioLoader.load(s, t(dir, "orders")).select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.SkewOps.saltedJoin(li, o, "l_orderkey", saltFactor = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), hround(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // ---- C12: JSON property extraction via Spark 4's native
    //      VARIANT path (parse once into the binary variant
    //      encoding, typed extraction — measured 1.8× faster than
    //      get_json_object string re-parsing). try_parse_json, not
    //      parse_json: malformed records must yield null like
    //      get_json_object did, not fail the job ----
    "q_json_extract" -> ((s, dir) => {
      BioLoader.load(s, t(dir, "events"))
        .select(col("event_id"),
          expr("variant_get(try_parse_json(props), '$.k', 'long')").as("k_value"))
        .groupBy("k_value").agg(count(lit(1)).as("n"))
    }),

    // ---- M2 (batch twin of the streaming agg): windowed events ----
    "q_events_window" -> ((s, dir) => {
      BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), hround(avg("value"), 6).as("avg_value"), hround(sum("value"), 2).as("sum_value"))
    }),

    // ---- M5 (batch twin of streaming top-k): bounded TopK aggregate
    //      per (window, event_type) ----
    "q_stream_topk" -> ((s, dir) => {
      val events = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      graft.streaming.EventStreams.topKPerWindow(events, 3)
        .select(col("window_start"), col("event_type"), col("event_id"),
          hround(col("value"), 6).as("value"), col("rank"))
    }),

    // ---- C16: binned range join — customers whose balance falls in
    //      a ±50 window around a supplier's balance. Written as a
    //      theta join Spark would plan a BroadcastNestedLoopJoin that
    //      scans |points|·|intervals| pairs; the binned rewrite is a
    //      hash equi-join on bin ids whose shuffle is linear in both
    //      inputs. The oracle replays the plain BETWEEN predicate —
    //      both engines evaluate the same IEEE double arithmetic, so
    //      boundary rows agree exactly. ----
    "q_range_join" -> ((s, dir) => {
      val c = BioLoader.load(s, t(dir, "customer")).select("c_custkey", "c_acctbal")
      val iv = BioLoader.load(s, t(dir, "supplier"))
        .select(col("s_suppkey"),
          (col("s_acctbal") - lit(50.0)).as("lo"), (col("s_acctbal") + lit(50.0)).as("hi"))
      graft.operators.RangeJoinOps
        .pointInInterval(c, "c_acctbal", iv, "lo", "hi", binWidth = 100.0)
        .select(col("c_custkey"), col("s_suppkey"), hround(col("c_acctbal"), 2).as("bal"))
    }),

    // ---- K18: per-group heavy hitters via the bounded SpaceSaving
    //      aggregate. capacity (2^18) exceeds the distinct partkeys
    //      at every graded SF (sf1's 200k crossed the old 32768 and
    //      SpaceSaving honestly left its exact regime — r12 sweep),
    //      so no eviction fires and counts are EXACT — the oracle is
    //      the top-k window over exact counts with the same
    //      (cnt desc, item asc) tie-break. At scale the same plan
    //      ships groups·capacity summary entries instead of one row
    //      per distinct (group, item); callers size capacity to the
    //      error they can take, graded queries size it exact. ----
    "q_heavy_hitters" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      li.groupBy(col("l_returnflag"))
        .agg(graft.functions.HeavyHittersAggregate
          .heavyHitters(col("l_partkey").cast("string"), capacity = 262144, k = 10).as("hh"))
        .select(col("l_returnflag"), posexplode(col("hh")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rank"),
          col("col.item").as("partkey"), col("col.cnt").as("cnt"))
    }),

    // ---- G5: temperature-based source re-balancing (sample ∝ n^α).
    //      lang is the skewed "source" here (en 44% → zh/es/de/fr);
    //      α = 0.5 up-weights the small languages. The coin is pure
    //      integer arithmetic on doc_id and the rates are
    //      floor-rounded to 1e-6, so DuckDB replays the whole
    //      operator — WHICH rows survive, not just how many. ----
    "q_temp_sample" -> ((s, dir) => {
      MixOps.temperatureSample(BioLoader.load(s, t(dir, "documents")),
        "lang", "doc_id", alpha = 0.5, targetFraction = 0.5)
        .select("doc_id", "lang")
    }),

    // ---- X8: byte-level BPE tokenizer. Train distributes the word
    //      count (one shuffle, bounded driver dict), encode/decode
    //      are codegen'd per-row kernels. The oracle grades the
    //      LOSSLESSNESS CONTRACT — byte-level BPE must reconstruct
    //      every document exactly, so md5(decode(encode(text)))
    //      equals DuckDB's md5(text) per doc; any encode/decode/
    //      merge-table bug breaks the hash. ----
    "q_bpe" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val codec = graft.operators.TokenizerOps.trainBpe(docs, "text", vocabSize = 512)
      docs.select(col("doc_id"),
        md5(graft.operators.TokenizerOps.decode(
          graft.operators.TokenizerOps.encode(col("text"), codec), codec)).as("rt_md5"),
        octet_length(col("text")).cast("long").as("n_bytes"))
    }),

    // ---- X8c: HF tokenizer.json interop — the trained codec is
    //      serialized in the PUBLIC huggingface/tokenizers byte-level
    //      BPE layout, re-imported, and must re-encode every document
    //      to BYTE-IDENTICAL token ids (ids_match) and decode back to
    //      the exact text (rt_md5 vs DuckDB's md5). Any alphabet-
    //      mapping, merge-order, or id-remap bug breaks one of the
    //      two gates. ----
    "q_bpe_interop" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val codec = graft.operators.TokenizerOps.trainBpe(docs, "text", vocabSize = 512)
      val reimported = graft.operators.BpeInterop.importTokenizerJson(
        graft.operators.BpeInterop.exportTokenizerJson(codec))
      docs.select(col("doc_id"),
        md5(graft.operators.TokenizerOps.decode(
          graft.operators.TokenizerOps.encode(col("text"), reimported), reimported))
          .as("rt_md5"),
        (graft.operators.TokenizerOps.encode(col("text"), codec) ===
          graft.operators.TokenizerOps.encode(col("text"), reimported)).as("ids_match"))
    }),

    // ---- X8b: token-boundary chunking. overlap = 0 chunks must
    //      reassemble into the document byte-for-byte (byte-level
    //      BPE is lossless), so the oracle is md5-of-reassembly vs
    //      DuckDB's md5(text) — any window-arithmetic, slice, or
    //      decode bug breaks the hash. The chunker itself is
    //      zero-shuffle; the groupBy here is just the reassembly
    //      harness. ----
    "q_bpe_chunk" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val codec = graft.operators.TokenizerOps.trainBpe(docs, "text", vocabSize = 512)
      graft.operators.TokenizerOps.chunkByTokens(docs, "doc_id", "text", codec, maxTokens = 64)
        .groupBy(col("doc_id"))
        .agg(
          md5(array_join(transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            x => x.getField("chunk_text")), "")).as("reassembled_md5"),
          count(lit(1)).as("n_chunks"),
          max(col("n_tokens")).cast("long").as("max_chunk_tokens"))
        .select(col("doc_id"), col("reassembled_md5"),
          (col("max_chunk_tokens") <= 64L).as("within_budget"))
    }),

    // ---- X9: trained quality classifier (LR over hashed bag-of-
    //      words, the GPT-3/LLaMA filtering recipe). The task is
    //      planted separable: every doc appears raw (label 0) and
    //      with a marker appended (label 1) — shared features carry
    //      exactly conflicting signal, so a correct trainer must
    //      drive them to zero and separate on the marker alone. The
    //      oracle IS the labeling rule; 100% training accuracy is
    //      the hash-checkable contract. ----
    "q_quality_clf" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents")).select("doc_id", "text")
      val labeled = docs.select(col("doc_id"), col("text"), lit(0.0).as("label"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" qualmarker")).as("text"), lit(1.0).as("label")))
      val dim = 1 << 16
      val w = graft.operators.ClassifierOps.trainTextClassifier(
        labeled, "text", "label", dim = dim, epochs = 25)
      labeled.select(col("doc_id"),
        (graft.operators.ClassifierOps.score(col("text"), w, dim) > 0.5).cast("long").as("pred"))
    }),

    // ---- G6: weighted sampling without replacement (Efraimidis-
    //      Spirakis), k per language, weight = doc length. The
    //      bounded TopK aggregate carries groups·k entries through
    //      the exchange — no window sort; the deterministic coin +
    //      key + tie-break replay verbatim in DuckDB, so the oracle
    //      checks WHICH docs are sampled, at which rank. ----
    "q_weighted_sample" -> ((s, dir) => {
      MixOps.weightedSamplePerGroup(BioLoader.load(s, t(dir, "documents")),
        "lang", "doc_id", "n_chars", k = 5)
        .select("lang", "rank", "doc_id")
    }),

    // ---- N9: per-feature two-group differential test (Welch t,
    //      normal-approx p, BH rank) — the differential-abundance
    //      analysis downstream of every omics load. One partial-agg
    //      groupBy; every number through the erf polynomial is pure
    //      arithmetic the oracle replays term by term. ----
    "q_difftest" -> ((s, dir) => {
      val long = BioLoader.load(s, t(dir, "lineitem"))
        .filter(col("l_returnflag").isin("A", "N"))
        .select((col("l_partkey") % 100).as("feature"), col("l_returnflag").as("grp"),
          col("l_quantity").as("v"))
      StatsOps.differentialTest(long, "feature", "v", "grp", "A", "N")
        .select(col("feature"), col("n_a"), col("n_b"),
          hround(col("t_stat"), 6).as("t_stat"),
          hround(col("df_welch"), 4).as("df_welch"),
          hround(col("p_value"), 6).as("p_value"),
          col("bh_rank"))
    }),

    // ---- D11: exact 7-token span overlap (the Lee-et-al exact-
    //      substring dedup signal). Planted twins share their whole
    //      text as spans; the oracle computes TRUE shared k-grams in
    //      SQL, so it also proves the 64-bit span hashes introduced
    //      no false pairs at this scale. ----
    "q_span_overlap" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents")).select("doc_id", "text")
      val planted = docs.unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("prefix sentinel words "), col("text")).as("text")))
      graft.operators.DedupOps.spanOverlapPairs(planted, "doc_id", "text", k = 7)
    }),

    // ---- D12: skew-overflow telemetry — disjoint-vocabulary docs
    //      replicated a controlled number of times make bucket
    //      membership structural (a bucket is one (doc, span) or
    //      (doc, band); its member count is the replication factor),
    //      so the exact overflow counts the report must emit are
    //      closed-form in SQL. r ∈ {40,50,60,70} with maxBucket=50
    //      → only r=60 and r=70 buckets may appear. ----
    "q_overflow_report" -> ((s, dir) => {
      val base = BioLoader.load(s, t(dir, "documents")).select("doc_id")
        .orderBy("doc_id").limit(20)
        .withColumn("r", (lit(40) + (col("doc_id") % 4) * 10).cast("int"))
      // span family: per-doc T = 16 + doc_id%5 distinct tokens → a
      // doc contributes T-6 span buckets (k=7), each of size r
      val spanDocs = base
        .select(col("doc_id"), explode(sequence(lit(1), col("r"))).as("c"))
        .select((col("doc_id") * 1000 + col("c")).as("id"),
          concat_ws(" ", transform(
            sequence(lit(0L), lit(15L) + col("doc_id") % 5),
            i => concat(lit("d"), col("doc_id").cast("string"), lit("w"), i.cast("string")))).as("text"))
      val spanRep = graft.operators.DedupOps
        .spanOverflowReport(spanDocs, "id", "text", k = 7, maxBucket = 50)
        .groupBy("n_members")
        .agg(count(lit(1)).as("n_buckets"), sum("n_lost_pairs").as("lost_pairs"))
        .select(lit("span").as("family"), col("n_members"), col("n_buckets"), col("lost_pairs"))
      // minhash family: identical copies share all 4 bands (16
      // hashes / 4 rows), so a doc contributes 4 band buckets of
      // size r; disjoint vocab keeps cross-doc bands distinct
      val mhDocs = base
        .select(col("doc_id"), explode(sequence(lit(1), col("r"))).as("c"))
        .select((col("doc_id") * 1000 + col("c")).as("id"), synthTextOf(col("doc_id")).as("text"))
      val mhRep = graft.operators.DedupOps
        .minhashOverflowReport(mhDocs, "id", "text",
          shingleSize = 3, numHashes = 16, rowsPerBand = 4, maxBucket = 50)
        .groupBy("n_members")
        .agg(count(lit(1)).as("n_buckets"), sum("n_lost_pairs").as("lost_pairs"))
        .select(lit("minhash").as("family"), col("n_members"), col("n_buckets"), col("lost_pairs"))
      spanRep.unionByName(mhRep)
    }),

    // ---- C15: bucketed co-located join — both sides written
    //      bucketBy(key), so the repeated equi-join plans with NO
    //      Exchange (the 100-TB fact table shuffles once at write
    //      time instead of per query). The oracle is the plain
    //      join, exactly as q_salted_join's is. ----
    "q_bucketed_join" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders")).select("o_custkey", "o_totalprice")
      val c = BioLoader.load(s, t(dir, "customer"))
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      // per-invocation table names: suites sharing the session must
      // not overwrite each other's bucket layout mid-plan. Table
      // names embed this JVM's start time, and GC only touches
      // entries from OTHER JVMs that are also stale by mtime — a
      // concurrent JVM sharing the warehouse keeps its live bucket
      // tables no matter how long its query runs.
      val jvmTag = java.lang.Long.toHexString(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
      val whUri = s.conf.get("spark.sql.warehouse.dir")
      val wh = new java.io.File(whUri.stripPrefix("file:"))
      val cutoff = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
      Option(wh.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bkt_") &&
          !f.getName.contains(s"_j${jvmTag}_") && f.lastModified() < cutoff)
        .foreach { f =>
          s.sql(s"DROP TABLE IF EXISTS ${f.getName}")
          if (f.exists()) { // orphan dir from an earlier JVM
            java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
      val tag = s"j${jvmTag}_${java.lang.Long.toHexString(System.nanoTime())}"
      graft.operators.BucketOps.writeBucketed(o, s"graft_bkt_orders_$tag", "o_custkey", 8)
      graft.operators.BucketOps.writeBucketed(c, s"graft_bkt_customer_$tag", "o_custkey", 8)
      graft.operators.BucketOps
        .colocatedJoin(s, s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag", "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), hround(sum("o_totalprice"), 2).as("sum_price"))
    }),

    // ---- C8: deterministic shuffle with the permutation
    //      materialized — the coin is the portable multiplicative
    //      hash, so DuckDB replays the ENTIRE row order, not just
    //      the membership ----
    "q_shuffle" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders")).select("o_orderkey", "o_custkey")
      SplitOps.shuffledWithPosition(o, "o_orderkey", seed = 7L)
    }),

    // ---- T7: training-shard export — range-sharded parquet,
    //      read back. The oracle grades content preservation plus
    //      the shard-count contract (n_shards rides every row; a
    //      collapsed or split shard layout breaks it). Order inside
    //      shards is spec-asserted (ExportOps spec). ----
    "q_shards" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val out = tmpDir(s, "graft-shards") + "/shards"
      graft.operators.ExportOps.writeShards(li, out, shardCount = 8, Seq("l_orderkey", "l_linenumber"))
      val back = s.read.parquet(out)
      val nFiles = back.select(input_file_name()).distinct().count()
      back.withColumn("n_shards", lit(nFiles))
    }),

    // ---- C14: fingerprint cache / materialize-once checkpoint —
    //      first call computes + writes, second call must serve the
    //      identical result from the fingerprint-keyed parquet (the
    //      hit path is what's returned and graded) ----
    "q_checkpoint" -> ((s, dir) => {
      val agg = BioLoader.load(s, t(dir, "lineitem"))
        .groupBy("l_returnflag")
        .agg(hround(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      val cacheDir = tmpDir(s, "graft-ckpt")
      graft.api.CacheOps.checkpoint(agg, cacheDir).count() // miss path: compute + write
      graft.api.CacheOps.checkpoint(agg, cacheDir)         // hit path: read-back is graded
    }),

    // ---- L11: Bioset accessor family composed end-to-end:
    //      classEncode → decode (round-trip: decoded == original
    //      label) → renameColumn → castColumn → removeColumns →
    //      sortBy → selectRows(first 100 positions) → addItem ----
    "q_accessors" -> ((s, dir) => {
      val c = BioLoader.load(s, t(dir, "customer"))
        .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      val encoded = LabelOps.classEncode(c, "c_mktsegment")
      val dict = LabelOps.labelDictionary(c, "c_mktsegment")
      val roles = graft.sources.ColumnInference.inferRoles(
        encoded, sampleColumn = Some("c_custkey"), targetColumn = Some("c_mktsegment"))
      var ds = graft.api.LoadDataset.GraftDataset(
        encoded, roles, dict, Some(graft.sources.ColumnInference.Classification))
      ds = ds.copy(df = ds.decode())
      ds = ds.copy(df = ds.renameColumn("c_mktsegment", "segment"))
      ds = ds.copy(df = ds.castColumn("c_nationkey", org.apache.spark.sql.types.StringType))
      ds = ds.copy(df = ds.removeColumns("c_acctbal"))
      ds = ds.copy(df = ds.sortBy("c_custkey"))
      ds = ds.copy(df = ds.selectRows(0L until 100L))
      val enc = ds.df.schema("encoded_labels").dataType
      val minusOne: Any = enc match {
        case org.apache.spark.sql.types.IntegerType => -1
        case _                                      => -1L
      }
      ds.addItem(Map(
        "c_custkey" -> -1L, "segment" -> "SYNTH", "c_nationkey" -> "99",
        "encoded_labels" -> minusOne, "decoded_labels" -> "SYNTH"))
        .select(col("c_custkey"), col("segment"), col("c_nationkey").as("nation"),
          col("decoded_labels"), col("encoded_labels").cast("long").as("encoded_labels"))
    }),

    // ---- L9 + L6b: the full load_dataset pipeline over the
    //      reference's file-convention layout: a staged
    //      data.parquet with a metadata.parquet BESIDE it that is
    //      discovered automatically, broadcast-joined on the
    //      inferred sample column, roles inferred, labels encoded.
    //      The oracle replays join + dictionary encode. ----
    "q_load_pipeline" -> ((s, dir) => {
      val tmp = tmpDir(s, "graft-load")
      val data = BioLoader.load(s, t(dir, "lineitem"))
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey").as("samples"), col("l_linenumber"), col("l_quantity"))
      val meta = BioLoader.load(s, t(dir, "orders"))
        .select(col("o_orderkey").as("samples"), col("o_orderstatus").as("labels"), col("o_totalprice"))
      graft.operators.ExportOps.writeSingleFile(data, s"$tmp/data.parquet")
      graft.operators.ExportOps.writeSingleFile(meta, s"$tmp/metadata.parquet")
      val ds = graft.api.LoadDataset.load(s,
        graft.api.LoadDataset.Config(dataFiles = Seq(s"$tmp/data.parquet")))
      ds.df.select(col("samples"), col("labels"),
        col(LabelOps.TargetColumn).cast("long").as(LabelOps.TargetColumn),
        hround(col("o_totalprice"), 2).as("o_totalprice"),
        col("l_linenumber"), hround(col("l_quantity"), 2).as("l_quantity"))
    }),

    // ---- L10: DatasetIO save/load round-trip — splits land in
    //      separate directories, roles/labels/task ride the JSON
    //      sidecar; everything graded comes from the LOADED dataset
    //      (split frames + sidecar fields as columns) ----
    "q_dataset_io" -> ((s, dir) => {
      val c = BioLoader.load(s, t(dir, "customer"))
        .select(col("c_custkey").as("samples"), col("c_mktsegment").as("labels"), col("c_acctbal"))
      val encoded = LabelOps.classEncode(c, "labels")
      val dict = LabelOps.labelDictionary(c, "labels")
      val roles = graft.sources.ColumnInference.inferRoles(encoded, targetColumn = Some("labels"))
      val ds = graft.api.LoadDataset.GraftDataset(
        encoded, roles, dict, Some(graft.sources.ColumnInference.Classification))
      val coin = pmod(col("samples") * lit(40503L), lit(10000L))
      val splits = Map(
        "train" -> encoded.filter(coin >= 2000L),
        "test" -> encoded.filter(coin < 2000L))
      val path = tmpDir(s, "graft-io") + "/ds"
      graft.api.DatasetIO.save(ds, path, splits)
      val (frames, loaded) = graft.api.DatasetIO.load(s, path)
      frames.toSeq.sortBy(_._1)
        .map { case (name, df) => df.withColumn("split", lit(name)) }
        .reduce(_.unionByName(_))
        .select(col("samples"), col("labels"),
          col(LabelOps.TargetColumn).cast("long").as(LabelOps.TargetColumn),
          hround(col("c_acctbal"), 2).as("c_acctbal"), col("split"),
          lit(loaded.roles.targetColumn.getOrElse("")).as("target_role"),
          lit(loaded.labelNames.mkString(",")).as("label_dict"),
          lit(loaded.task.map(_.toString).getOrElse("")).as("task"))
    }),

    // ---- D6: one-call dedupAll = exact md5 dedup, then MinHash-LSH
    //      near-dup drop (higher id of each verified pair). The
    //      oracle replays BOTH stages: min-id-per-md5 survivors,
    //      anti-joined against the true 3-gram-jaccard ≥ 0.7 pair
    //      set computed over those survivors. ----
    "q_dedup_all" -> ((s, dir) => {
      // 256 hashes (64 bands of 4): the exact-jaccard oracle needs
      // candidate recall at the 0.70 boundary to be effectively 1
      // (miss ≈ 0.7599^64 ≈ 2.4e-8/pair; the 16-band default's 1.2%
      // realized one organic miss at sf1)
      graft.operators.DedupOps.dedupAll(
        BioLoader.load(s, t(dir, "documents")).select("doc_id", "text"),
        "doc_id", "text", shingleSize = 3, threshold = 0.7, numHashes = 256)
        .select("doc_id")
    }),

    // ---- L5 + T3: column-role + task-type inference. The inputs
    //      are renamed to the reference's conventional names; the
    //      inferred assignment is deterministic given the schema, so
    //      the oracle is the expected golden table. ----
    "q_infer_roles" -> ((s, dir) => {
      val df = BioLoader.load(s, t(dir, "orders")).select(
        col("o_orderkey").as("samples"), col("o_custkey").as("batch_id"),
        col("o_orderstatus").as("labels"), col("o_totalprice"), col("o_orderpriority"))
      val roles = graft.sources.ColumnInference.inferRoles(df)
      val taskCls = graft.sources.ColumnInference.inferTask(df, roles.targetColumn.get)
      val taskReg = graft.sources.ColumnInference.inferTask(df, "o_totalprice")
      import s.implicits._
      (roles.sampleColumn.map(("sample_column", _)).toSeq ++
        roles.batchColumn.map(("batch_column", _)).toSeq ++
        roles.targetColumn.map(("target_column", _)).toSeq ++
        roles.dataColumns.map(("data_column", _)) ++
        Seq(("task:labels", taskCls.toString), ("task:o_totalprice", taskReg.toString)))
        .toDF("role", "column_name")
    }),

    // ---- L4: feature metadata → StructField.metadata, persisted
    //      THROUGH parquet and read back from the schema — the
    //      values are data-dependent (distinct counts), so the
    //      oracle recomputes them from the table ----
    "q_feature_meta" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount")
      val stats = li.select(feats.map(c => countDistinct(col(c)).as(c)): _*).collect()(0)
      val meta = feats.zipWithIndex.map { case (c, i) =>
        c -> Map("n_distinct" -> stats.getLong(i).toString, "featureType" -> "Abundance")
      }.toMap
      val annotated = graft.operators.MetadataOps.attachFeatureMetadata(
        li.select(feats.map(col): _*), meta)
      val tmp = tmpDir(s, "graft-fmeta") + "/t"
      annotated.write.mode("overwrite").parquet(tmp)
      val back = s.read.parquet(tmp)
      val rows = back.schema.fields.flatMap { f =>
        Seq("n_distinct", "featureType").collect {
          case k if f.metadata.contains(k) => (f.name, k, f.metadata.getString(k))
        }
      }
      import s.implicits._
      rows.toSeq.toDF("feature", "meta_key", "meta_value")
    }),

    // ---- L6: NPZ sparse round-trip — a bounded key-filtered slice
    //      is written as a scipy-CSR npz, then read back through the
    //      ROW-RANGE-SPLIT reader path (the 1-TB-single-file scale
    //      path), and must reproduce the source table slice ----
    "q_npz_roundtrip" -> ((s, dir) => {
      val rows = BioLoader.load(s, t(dir, "customer"))
        .filter(col("c_custkey") <= 1000)
        .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"),
          col("c_acctbal").cast("double"))
        .collect() // bounded by the key filter: ≤ 1000 rows at any SF
      val path = java.nio.file.Files.createTempFile("graft", ".npz").toString
      graft.sources.NpzWriter.writeCsr(path, nRows = 1001L, nCols = 32L,
        rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getDouble(2)))
      graft.sources.NpzReader.readSplit(s, path, rowsPerTask = 256)
        .select(col("row"), col("col"), hround(col("value"), 2).as("value"))
    }),

    // ---- L8: Arrow IPC round-trip — a bounded key-filtered slice
    //      exported as a .arrow file (magic ARROW1), read back by
    //      the streaming batch reader ----
    "q_arrow_roundtrip" -> ((s, dir) => {
      // nested columns ride along: a nullable struct (null every
      // 7th key — validity must round-trip) and a 2-element
      // list<struct>; read-back flattens them to scalars so the
      // compare stays SQL-replayable while grading the nested path
      val sup = BioLoader.load(s, t(dir, "supplier"))
        .filter(col("s_suppkey") <= 200)
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("s_acctbal"),
          when(col("s_suppkey") % 7 === 0, lit(null))
            .otherwise(struct(col("s_nationkey").cast("int").as("nk"),
              concat(lit("p-"), col("s_nationkey").cast("string")).as("ph")))
            .as("info"),
          array(
            struct(col("s_nationkey").cast("long").as("k"), col("s_name").as("v")),
            struct((col("s_nationkey") + 1).cast("long").as("k"), upper(col("s_name")).as("v"))
          ).as("tags"))
      val path = java.nio.file.Files.createTempFile("graft", ".arrow").toString
      graft.sources.ArrowIpcWriter.write(sup, path, batchRows = 64)
      graft.sources.ArrowIpcReader.read(s, Seq(path))
        .select(col("s_suppkey"), col("s_name"), hround(col("s_acctbal"), 2).as("s_acctbal"),
          col("info.nk").as("nk"), col("info.ph").as("ph"),
          col("tags")(1)("k").as("k2"), col("tags")(1)("v").as("v2"),
          size(col("tags")).as("n_tags"))
    }),

    // ---- S6c: PQ index persistence + frozen-quantizer append —
    //      the index is built WITHOUT the planted twins, persisted,
    //      the twins appended through the frozen coarse quantizer +
    //      codebooks (touching only their landed list partitions),
    //      and retrieval runs against the RELOADED index: each
    //      query's appended twin encodes to the query's own code,
    //      so it must surface at rank 1 ----
    "q_pq_persist" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 10)
      val index = IvfKnnOps.buildPqIndex(emb, "vec_id", "embedding", nLists = 16, m = 8, maxIter = 5)
      val path = tmpDir(s, "graft-pq") + "/idx"
      IvfKnnOps.savePqIndex(index, path)
      IvfKnnOps.appendToSavedPqIndex(s, path,
        queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
      val loaded = IvfKnnOps.loadPqIndex(s, path)
      IvfKnnOps.pqTopK(queries, loaded, "vec_id", "embedding", 5, nProbe = 4)
        .filter(col("rank") === 1)
        .select("query_id", "neighbor_id", "rank")
    }),

    // ---- N10: k-group differential test (Kruskal–Wallis rank
    //      ANOVA over the 3 return flags). Ranks, tie correction,
    //      H, and the df=2 chi² survival exp(−H/2) are all plain
    //      arithmetic the oracle replays term by term; rank sums
    //      are multiples of 0.5 (exact in double), so only the
    //      3-term Σ R²/n carries fp variance — absorbed by the
    //      1e-6 grid like every other oracled statistic. ----
    "q_difftest_k" -> ((s, dir) => {
      val long = BioLoader.load(s, t(dir, "lineitem"))
        .select((col("l_partkey") % 100).as("feature"), col("l_returnflag").as("grp"),
          col("l_quantity").as("v"))
      StatsOps.kruskalWallis(long, "feature", "v", "grp", Seq("A", "N", "R"))
        .select(col("feature"), col("n_total"),
          hround(col("h_stat"), 6).as("h_stat"),
          hround(col("p_value"), 6).as("p_value"),
          col("bh_rank"))
    }),

    // ---- C24: trailing 1-hour rolling aggregates per user over the
    //      event stream — one shuffle on the key, range frame on the
    //      microsecond axis. ----
    "q_rolling" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      StatsOps.rollingAgg(ev, Seq("user_id"), "ts", "value", "1 hour")
        .select(col("event_id"), col("user_id"), col("roll_cnt"),
          hround(col("roll_sum"), 6).as("roll_sum"),
          hround(col("roll_avg"), 6).as("roll_avg"))
    }),

    // ---- C26: ordered funnel view→click→purchase per user — the
    //      strictly-increasing earliest chain, one shuffle of the
    //      step-typed events only. ----
    "q_funnel" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      FunnelOps.funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .select(col("user_id"),
          expr("unix_micros(t_0)").as("t0_us"),
          expr("unix_micros(t_1)").as("t1_us"),
          expr("unix_micros(t_2)").as("t2_us"),
          col("reached"))
    }),

    // ---- C26b: deadline funnel — the same chain but steps only
    //      count within 48 h of t_0 (the "converted within N days"
    //      report form). ----
    "q_funnel_deadline" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      FunnelOps.funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxSpanSeconds = Some(172800L))
        .select(col("user_id"),
          expr("unix_micros(t_0)").as("t0_us"),
          expr("unix_micros(t_1)").as("t1_us"),
          expr("unix_micros(t_2)").as("t2_us"),
          col("reached"))
    }),

    // ---- C29: KMV bottom-k distinct sketch — distinct-user
    //      estimates per event type, and pairwise audience-overlap
    //      (Jaccard) estimates between types; the kept hashes are a
    //      uniform sample of the distinct set, so bottom-k sets can
    //      intersect (HLL registers can't). ----
    "q_kmv" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
      val sk = SketchOps.kmvSketch(ev, Seq("event_type"), "user_id", k = 64)
      SketchOps.kmvEstimate(sk, Seq("event_type"), k = 64)
    }),
    "q_kmv_jaccard" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
      val sk = SketchOps.kmvSketch(ev, Seq("event_type"), "user_id", k = 64)
      SketchOps.kmvJaccard(sk, "event_type", k = 64)
    }),

    // ---- D7d: per-node triangle counts on the part co-order graph
    //      (parts appearing in the same order are linked). Degree
    //      orientation bounds wedge generation at O(m^1.5) — hubs
    //      are neutralized, each triangle closes exactly once. ----
    "q_triangles" -> ((s, dir) => {
      GraphOps.triangleCounts(sharedSymGraph(s, dir))
    }),

    // ---- D7j: k-core decomposition — the maximal subgraph where
    //      every part keeps ≥ 3 high-quantity co-order neighbors;
    //      iterative peeling, round cap replayable because a
    //      converged graph peels to itself. ----
    "q_kcore" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem")).filter(col("l_quantity") > 40)
      val edges = GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey", maxGroupSize = 64)
      GraphOps.kCore(edges, k = 3, maxRounds = 10)
    }),

    // ---- C30: the guarded co-occurrence edge set itself — parts
    //      linked by sharing an order. ----
    "q_cooccur" -> ((s, dir) => {
      sharedCoOrderEdges(s, dir)
    }),

    // ---- D7k: degree assortativity of the part co-order graph —
    //      one number for hub-to-hub vs hub-to-leaf attachment; six
    //      exact integer sums over the symmetrized endpoint-degree
    //      pairs, closed form on the 1e-9 grid. ----
    "q_assortativity" -> ((s, dir) => {
      GraphOps.degreeAssortativity(sharedSymGraph(s, dir))
    }),

    // ---- D7l: local clustering coefficient — per-part neighborhood
    //      closure on the co-order graph; the degree-oriented
    //      triangle count + one node-frame left join, exact-integer
    //      numerator/denominator. ----
    "q_clustering" -> ((s, dir) => {
      GraphOps.clusteringCoefficient(sharedSymGraph(s, dir))
    }),

    // ---- D7m: modularity of the shared Louvain partition, scored
    //      FROM THE CONTRACTION — e_in/deg_sum aggregate the
    //      community-sized super frames, never re-joining the
    //      node/edge-sized ones; the oracle re-derives the same
    //      exact integers from the node-level labels. ----
    "q_modularity" -> ((s, dir) => {
      GraphOps.modularityOfLouvain(sharedLouvain(s, dir))
    }),

    // ---- D7o: Louvain WITH single-level contraction — LPA(2)
    //      seeds the partition, communities collapse to weighted
    //      super-nodes, 4 exact-integer downward-move refine rounds
    //      run on the contracted graph, labels map back
    //      (sharedLouvain = louvainRefine(sharedSymGraph, sharedLpa,
    //      level1Rounds = 4)); the oracle unrolls the identical
    //      chain (LouvainChainSql: lp1..lp2 seed + RefineRounds = 4)
    //      with zero float arithmetic. ----
    "q_louvain" -> ((s, dir) => {
      sharedLouvain(s, dir).labels
    }),

    // ---- C35: item-item cosine similarity — "bought with X" from
    //      order baskets; capped pair machinery + two item-count
    //      joins, popularity-damped exact-count cosine. ----
    "q_item_sim" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      MiningOps.itemCosineSimilarity(li, "l_orderkey", "l_partkey",
        minCo = 2L, maxBasketSize = 64)
    }),

    // ---- D7e: synchronous label-propagation communities on the
    //      part co-order graph — deterministic variant (most
    //      frequent neighbor label, ties to the smallest), 2 fixed
    //      rounds (see sharedLpa: faster AND refines better than 3),
    //      each ONE label-frame join + count + argmax window. ----
    "q_label_prop" -> ((s, dir) => {
      sharedLpa(s, dir)
    }),

    // ---- D7f: multi-source BFS hop counts — link distance from
    //      the seed parts (id < 100) over the co-order graph,
    //      frontier-expanded with each node settled exactly once. ----
    "q_bfs_hops" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      val sources = li.filter(col("l_partkey") < 100)
        .select(col("l_partkey").as("node")).distinct()
      GraphOps.shortestHops(sharedSymGraph(s, dir), sources, maxHops = 3)
    }),

    // ---- D7g: link prediction on the customer co-order graph (a
    //      denser region: customers sharing a part) — common
    //      neighbors + Adamic–Adar for non-adjacent 2-hop pairs,
    //      super-hub middles excluded before wedge generation. ----
    "q_link_pred" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem")).filter(col("l_partkey") < 60)
      val orders = BioLoader.load(s, t(dir, "orders")).select("o_orderkey", "o_custkey")
      val co = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      val edges = GraphOps.coOccurrenceEdges(co, "l_partkey", "o_custkey", maxGroupSize = 2000)
      GraphOps.linkPrediction(edges, maxDegree = 500)
    }),

    // ---- C31: Markov transition matrix between event types per
    //      user stream — "what paths DO happen" next to q_funnel's
    //      prescribed path; probabilities are count ratios on the
    //      1e-9 grid. ----
    "q_transitions" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.transitionMatrix(ev, "user_id", Seq("ts", "event_id"), "event_type")
    }),

    // ---- N22: seasonal-profile anomalies — each event judged
    //      against its (event_type, hour-of-day) mean/std band; the
    //      calendar twin of q_ewma's sequential band. ----
    "q_seasonal" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      DriftOps.seasonalAnomalies(ev, Seq("event_type"), "ts", "value",
          nSigma = 2.0, minBucket = 5)
        .select(col("event_id"), col("event_type"),
          col("season_mean"), col("season_std"),
          col("is_anomaly").cast("int").as("is_anomaly"))
    }),

    // ---- X15: per-document keyword extraction — top-3 TF-IDF
    //      terms per doc, the document-side twin of q_tfidf. ----
    "q_keywords" -> ((s, dir) => {
      TextOps.keywords(BioLoader.load(s, t(dir, "documents"))
        .filter(col("doc_id") < 300), "doc_id", "text", k = 3)
    }),

    // ---- N23: winsorization — each event value clipped into its
    //      type's exact [p05, p95] type-7 quantile band; the same
    //      replayable integer-count quantile machinery as
    //      q_outliers. ----
    "q_winsorize" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      StatsOps.winsorize(ev, Seq("event_type"), "value", 0.05, 0.95)
        .select(col("event_id"), col("event_type"),
          hround(col("value"), 6).as("value"), hround(col("q_lo"), 6).as("q_lo"),
          hround(col("q_hi"), 6).as("q_hi"), hround(col("winsorized"), 6).as("winsorized"))
    }),

    // ---- T8: smoothed leave-one-out target encoding — each
    //      event's type replaced by the others' smoothed mean value
    //      (the high-cardinality feature with the leakage guard). ----
    "q_target_encode" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
      LabelOps.targetEncode(ev, "event_type", "value", m = 10.0, leaveOneOut = true)
        .select(col("event_id"), col("event_type"), col("te"))
    }),

    // ---- C32: top user journeys — each user's first-5-event path
    //      string, counted and ranked across users. ----
    "q_paths" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.topPaths(ev, "user_id", Seq("ts", "event_id"), "event_type",
        maxLen = 5, k = 20)
    }),

    // ---- D7h: personalized PageRank on the customer→supplier
    //      purchase graph — proximity to the seed suppliers
    //      (s_suppkey < 10) instead of global centrality; 3 snapped
    //      iterations over the same cached edge partitioning. ----
    "q_ppr" -> ((s, dir) => {
      sharedPurchaseRanks(s, dir)
        .select(col("node"), col("pprank").as("rank"))
        .filter(col("rank") > 0)
    }),

    // ---- N24: CUSUM control chart — sustained-drift detection per
    //      user (the small-shift complement of q_ewma's pointwise
    //      band); the max(0,·) recurrence is non-affine, so this is
    //      the documented per-partition imperative scan. ----
    "q_cusum" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      DriftOps.cusum(ev, Seq("user_id"), Seq("ts", "event_id"), "value",
          target = 50.0, k = 25.0, h = 200.0)
        .select(col("event_id"), col("user_id"), col("s_pos"), col("s_neg"),
          col("alarm").cast("int").as("alarm"))
    }),

    // ---- E1a: ROC AUC per source — how well does document length
    //      rank English vs non-English? Rank-sum identity with
    //      exact tie averaging over the distinct-score frame; all
    //      integer arithmetic until one snapped ratio. ----
    "q_auc" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("is_en", (col("lang") === "en").cast("int"))
      EvalOps.auc(d, "is_en", "n_chars", Seq("source"))
    }),

    // ---- E1b: confusion matrix + threshold metrics per source —
    //      "n_chars >= 306 predicts English" graded with integer
    //      counts and snapped ratios; degenerate denominators are
    //      NULL, not fake zeros. ----
    "q_eval_metrics" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("is_en", (col("lang") === "en").cast("int"))
      EvalOps.confusionMetrics(d, "is_en", "n_chars", 306.0, Seq("source"))
    }),

    // ---- E2: Cohen's kappa between the declared lang column and
    //      the X1 stopword-vote prediction — chance-corrected
    //      agreement from one contingency shuffle. ----
    "q_kappa" -> ((s, dir) => {
      val scored = TextOps.langId(BioLoader.load(s, t(dir, "documents")), "text")
      EvalOps.cohenKappa(scored, "lang", "lang_pred")
    }),

    // ---- T9: leakage-safe split — exact-dup clusters (30-char
    //      prefix hash, the q_dup_clusters construction) ride the
    //      portable coin TOGETHER: no near-copy straddles the
    //      train/test boundary. ----
    "q_leak_split" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val keyed = docs.select(col("doc_id"),
        md5(substring(col("text"), 1, 30)).as("k"))
      val w = Window.partitionBy("k")
      val clusters = keyed
        .withColumn("cluster_id", min("doc_id").over(w))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") > 1)
        .select(col("doc_id").as("member"), col("cluster_id"))
      SplitOps.clusterAwareSplitWith(docs, "doc_id", clusters,
          "cluster_id", "member",
          key => pmod(key * lit(40503L), lit(10000L)), 0.3)
        .select(col("doc_id"), col("split_key"), col("split"))
    }),

    // ---- N25: per-type OLS trend of event values over time — x is
    //      epoch-days (one IEEE division, identical both engines),
    //      shifted to the group origin before the power sums. ----
    "q_trend" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .withColumn("x", expr("unix_micros(ts)") / lit(86400000000.0))
      StatsOps.linearTrend(ev, Seq("event_type"), "x", "value")
    }),

    // ---- X21: Zipf-law fit per source — OLS slope of ln(count) on
    //      ln(rank) over the top-500 terms (slope ≈ −α, the corpus
    //      naturalness screen: synthetic/templated text bends the
    //      log-log line); composition of the token counts and N25's
    //      shift-and-MEAN trend machinery. ----
    "q_zipf" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val terms = docs
        .select(col("source"),
          explode(split(lower(col("text")), "[^\\p{L}\\p{N}]+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("term"))
      val ranked = terms
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 500)
        .select(col("source"), log(col("rn").cast("double")).as("lx"),
          log(col("cnt").cast("double")).as("ly"))
      StatsOps.linearTrend(ranked, Seq("source"), "lx", "ly")
    }),

    // ---- N26: distribution-shape profile — skewness, excess
    //      kurtosis, Jarque–Bera per event type from one power-sum
    //      pass. ----
    "q_moments" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
      // scalePow2 pinned so the SQL replay's /32 grid is fixed
      StatsOps.momentsProfile(ev, Seq("event_type"), "value", scalePow2 = 5)
    }),

    // ---- P4: column-profile report over orders — row/null/exact
    //      distinct counts + min/max per column in one pass. ----
    "q_profile" -> ((s, dir) => {
      StatsOps.profileColumns(BioLoader.load(s, t(dir, "orders")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    }),

    // ---- M15: STREAMING EWMA control chart — N18 running in
    //      stream state: rows buffer per user until the watermark
    //      seals them, then replay in event-time order through the
    //      exact snapped recurrence, so the streamed chart equals
    //      the batch chart row-for-row (the q_ewma oracle replays
    //      it directly). ----
    "q_stream_ewma" -> ((s, dir) => {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = BioLoader.nanosToTimestamp(
            streamTable(s, dir, "events", EventsSchema), "ts")
          .select(col("ts"), col("user_id"), col("event_id"), col("value"))
        val pusher = streamTable(s, dir, "nation",
            "n_nationkey INT, n_name STRING, n_regionkey INT")
          .filter(col("n_nationkey") === 0)
          .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
            lit(PusherId).as("user_id"), lit(-1L).as("event_id"),
            lit(null).cast("double").as("value"))
        val chart = graft.streaming.EventStreams.streamingEwmaChart(
          ev.unionByName(pusher), lambda = 0.25, nSigma = 3.0, minPrior = 5,
          watermark = "1 hour")
        graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
          runStreamToMemory(chart, "m15ewma").filter(col("user_id") =!= PusherId)
        }
      } finally prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None    => s.conf.unset(provKey)
      }
    }),

    // ---- M16: STREAMING tabular CUSUM — N24's sustained-drift
    //      detector in stream state: same buffer-until-watermark
    //      replay as M15, state beyond the buffer is two snapped
    //      doubles; the q_cusum oracle replays the streamed run
    //      directly. ----
    "q_stream_cusum" -> ((s, dir) => {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = BioLoader.nanosToTimestamp(
            streamTable(s, dir, "events", EventsSchema), "ts")
          .select(col("ts"), col("user_id"), col("event_id"), col("value"))
        val pusher = streamTable(s, dir, "nation",
            "n_nationkey INT, n_name STRING, n_regionkey INT")
          .filter(col("n_nationkey") === 0)
          .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
            lit(PusherId).as("user_id"), lit(-1L).as("event_id"),
            lit(null).cast("double").as("value"))
        val chart = graft.streaming.EventStreams.streamingCusum(
          ev.unionByName(pusher), target = 50.0, k = 25.0, h = 200.0,
          watermark = "1 hour")
        graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
          runStreamToMemory(chart, "m16cusum").filter(col("user_id") =!= PusherId)
        }
      } finally prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None    => s.conf.unset(provKey)
      }
    }),

    // ---- M19: STREAMING Brown forecast — N30 in stream state: the
    //      same buffer-until-watermark replay as M15/M16 carrying
    //      the four affine-scan doubles; the q_double_ewma recursive
    //      oracle grades the streamed run directly. ----
    "q_stream_forecast" -> ((s, dir) => {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = BioLoader.nanosToTimestamp(
            streamTable(s, dir, "events", EventsSchema), "ts")
          .select(col("ts"), col("user_id"), col("event_id"), col("value"))
        val pusher = streamTable(s, dir, "nation",
            "n_nationkey INT, n_name STRING, n_regionkey INT")
          .filter(col("n_nationkey") === 0)
          .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
            lit(PusherId).as("user_id"), lit(-1L).as("event_id"),
            lit(null).cast("double").as("value"))
        val fc = graft.streaming.EventStreams.streamingBrownForecast(
          ev.unionByName(pusher), lambda = 0.25, horizon = 3, watermark = "1 hour")
        graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
          runStreamToMemory(fc, "m19brown").filter(col("user_id") =!= PusherId)
        }
      } finally prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None    => s.conf.unset(provKey)
      }
    }),

    // ---- P6: time-weighted average value per user — each
    //      observation weighs by its holding duration; the correct
    //      mean for irregular sampling. ----
    "q_twap" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.twap(ev, "user_id", Seq("ts", "event_id"), "ts", "value")
        .select(col("user_id"), col("n_intervals"),
          hround(col("span_s"), 6).as("span_s"), hround(col("twap"), 6).as("twap"))
    }),

    // ---- P7: consecutive same-state runs per user — maximal
    //      streaks of equal event_type via window gaps-and-islands. ----
    "q_state_runs" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.stateRuns(ev, "user_id", Seq("ts", "event_id"), "ts", "event_type")
        .select(col("user_id"), col("state"),
          expr("unix_micros(run_start)").as("start_us"),
          expr("unix_micros(run_end)").as("end_us"), col("run_len"))
    }),

    // ---- P8: lagged cross-correlation — do error counts track
    //      click counts k hours later? Hourly count series
    //      correlated at lags 0..6 with the snapped-means Pearson. ----
    "q_lagged_corr" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.laggedCorrelation(ev, "event_type", "ts", "click", "error",
        bucketSeconds = 3600L, maxLag = 6)
    }),

    // ---- P3: inter-arrival gap statistics — per-user consecutive
    //      gaps in seconds, summarized per event type with exact
    //      type-7 median over the distinct-gap frame. ----
    "q_interarrival" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.interArrivalStats(ev, "user_id", Seq("ts", "event_id"), "ts",
          Seq("event_type"))
        .select(col("event_type"), col("n_gaps"),
          hround(col("mean_gap_s"), 6).as("mean_gap_s"),
          hround(col("min_gap_s"), 6).as("min_gap_s"),
          hround(col("max_gap_s"), 6).as("max_gap_s"),
          hround(col("p50_gap_s"), 6).as("p50_gap_s"))
    }),

    // ---- G7: decile buckets of event value within each type —
    //      ntile over the (value, event_id)-total order. ----
    "q_ntile" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events")).filter(col("value").isNotNull)
      MixOps.ntileBuckets(ev, Seq("event_type"), "value", "event_id", 10)
        .select("event_id", "event_type", "bucket")
    }),

    // ---- C22c: end-to-end entity resolution — Jaro-blocked pair
    //      generation → distributed connected components → canonical
    //      (min-id) cluster representative; the record-linkage
    //      pipeline as one composition. ----
    "q_entity_resolution" -> ((s, dir) => {
      // p_partkey < 80000 bounds the record set at big SFs (a no-op
      // through sf0.1, where part tops out at 20k keys): the planted
      // name space has CONSTANT cardinality (64 adj·noun pairs × 10
      // digits), so an unbounded scan makes the >=0.95 match graph
      // grow quadratically with sf — the r12 sf1 sweep OOMed here.
      // Real corpora bound this with fuzzyJoinJaro's maxBlockSize;
      // the fixture bounds the input so the oracle replay stays
      // cap-free.
      val rec = BioLoader.load(s, t(dir, "part"))
        .filter(col("p_partkey") % 4 === 0 && col("p_partkey") < 80000)
        .select(col("p_partkey").as("id"),
          concat(col("p_name"), lit(" "), (col("p_partkey") % 10).cast("string")).as("name"))
      val pairs = FuzzyJoinOps.fuzzyJoinJaro(
          rec.select(col("id").as("id_a"), col("name").as("name_a")),
          rec.select(col("id").as("id_b"), col("name").as("name_b")),
          "name_a", "name_b", minSim = 0.95, blockPrefix = 2)
        .filter(col("id_a") < col("id_b"))
      val comp = GraphOps.connectedComponents(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("__cid"), col("component"))
      rec.join(comp, col("id") === col("__cid"), "left")
        .select(col("id"), col("name"),
          coalesce(col("component"), col("id")).as("cluster"))
        .withColumn("is_canonical", (col("cluster") === col("id")).cast("int"))
    }),

    // ---- M25: streaming incremental entity resolution — the
    //      record-linkage pipeline streamed: per-BLOCK incremental
    //      union-find over arriving Jaro match edges (blocking
    //      confines components, so per-block state is exact); the
    //      batch C22c composition is the oracle. Single-source
    //      fixture (records + pusher from one part scan) for
    //      deterministic batch assignment. ----
    "q_stream_entity" -> ((s, dir) => {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val t0 = expr("timestamp'2024-01-01 00:00:00'")
        val t1 = expr("timestamp'2024-01-02 00:00:00'")
        val recRole = struct(col("p_partkey").as("id"),
          concat(col("p_name"), lit(" "), (col("p_partkey") % 10).cast("string")).as("name"),
          t0.as("ts"))
        val pushRole = struct(lit(PusherId).as("id"),
          lit("zq zq pusher").as("name"), t1.as("ts"))
        val stream = streamTable(s, dir, "part", PartSchema)
          // bounded like q_entity_resolution (see its note)
          .filter(col("p_partkey") % 4 === 0 && col("p_partkey") < 80000)
          .select(explode(concat(array(recRole),
            slice(array(pushRole), lit(1),
              when(col("p_partkey") === 0, lit(1)).otherwise(lit(0))))).as("r"))
          .select(col("r.id").as("id"), col("r.name").as("name"), col("r.ts").as("ts"))
        val resolved = graft.streaming.EntityResolution.streamingEntityResolution(
          stream, "id", "name", minSim = 0.95, blockPrefix = 2,
          watermark = "10 seconds", windowLen = "1 minute")
        graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
          runStreamToMemory(resolved, "m25er").filter(col("id") < PusherId)
            .select("id", "name", "cluster")
        }
      } finally prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None    => s.conf.unset(provKey)
      }
    }),

    // ---- G9: budget-constrained mixture solving — spend an 80k
    //      token budget across the 20 doc sources per a planted
    //      weight recipe with an 80% per-source rate cap; the
    //      waterfill's saturated prefix + level are closed-form
    //      window arithmetic the oracle replays verbatim. ----
    "q_mix_solve" -> ((s, dir) => {
      val stats = BioLoader.load(s, t(dir, "documents"))
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).as("avail"))
        .withColumn("w",
          (lit(1) + regexp_extract(col("source"), "\\d+", 0).cast("int") % 5)
            .cast("double"))
      MixOps.solveMixtureBudget(stats, "source", "avail", "w",
        budget = 80000.0, maxRate = 0.8)
    }),

    // ---- G10: exact-ratio mixture maximization — the largest total
    //      hitting the recipe exactly under the same caps (the
    //      planning step before sampling); T* is a one-row scalar. ----
    "q_mix_solve_max" -> ((s, dir) => {
      val stats = BioLoader.load(s, t(dir, "documents"))
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).as("avail"))
        .withColumn("w",
          (lit(1) + regexp_extract(col("source"), "\\d+", 0).cast("int") % 5)
            .cast("double"))
      MixOps.solveMixtureMax(stats, "source", "avail", "w", maxRate = 0.8)
    }),

    // ---- N28: offline change-point (binary segmentation's first
    //      split) — where each user's value series actually moved;
    //      integer-cents prefix sums make the window engine-exact. ----
    "q_changepoint" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      DriftOps.changePoint(ev, Seq("user_id"), Seq("ts", "event_id"), "ts", "value",
        minSegment = 5)
    }),

    // ---- C22b/K22: Jaro-Winkler fuzzy join — part names against
    //      deterministic suffixed variants, prefix-blocked, scored
    //      by the codegen'd byte-level kernel on the 1e-6 grid. ----
    "q_jaro_join" -> ((s, dir) => {
      val part = BioLoader.load(s, t(dir, "part"))
      val names = part.select(col("p_name").as("name_a")).distinct()
      val variants = part.select(col("p_partkey"),
        concat(col("p_name"), lit(" "), (col("p_partkey") % 10).cast("string")).as("name_b"))
      FuzzyJoinOps.fuzzyJoinJaro(names, variants, "name_a", "name_b",
        minSim = 0.9, blockPrefix = 2)
    }),

    // ---- C22d: capped fuzzy join — the batch ER block-size guard.
    //      Customer names all share prefix "Cu" (one non-selective
    //      block, >1000 rows per side at every SF — the r9 OOM
    //      shape in miniature); part names block selectively. The
    //      cap drops the hot block WHOLESALE pre-join; the oracle
    //      recomputes the same exclusion in SQL. ----
    "q_jaro_capped" -> ((s, dir) => {
      val part = BioLoader.load(s, t(dir, "part")).filter(col("p_partkey") <= 2000)
      // the hot block: order keys are dense from 0, so <= 1300 gives
      // 1301 same-prefix names (> cap) at EVERY SF incl. sf0.001
      val hot = BioLoader.load(s, t(dir, "orders")).filter(col("o_orderkey") <= 1300)
      val lefts = part.select(col("p_name").as("name_a")).distinct()
        .unionByName(hot.select(concat(lit("cu hot "), col("o_orderkey")).as("name_a")))
      val rights = part.select(
          concat(col("p_name"), lit(" "), (col("p_partkey") % 10).cast("string")).as("name_b"))
        .unionByName(hot.select(concat(lit("cu hot "), col("o_orderkey"), lit(" x")).as("name_b")))
      FuzzyJoinOps.fuzzyJoinJaro(lefts, rights, "name_a", "name_b",
        minSim = 0.9, blockPrefix = 2, maxBlockSize = 1000)
    }),

    // ---- C22d telemetry: the dropped blocks, observable — same
    //      frame `jaroBlockOverflowReport` returns for the capped
    //      join above ("no silent caps"). ----
    "q_jaro_overflow" -> ((s, dir) => {
      val part = BioLoader.load(s, t(dir, "part")).filter(col("p_partkey") <= 2000)
      val hot = BioLoader.load(s, t(dir, "orders")).filter(col("o_orderkey") <= 1300)
      val lefts = part.select(col("p_name").as("name_a")).distinct()
        .unionByName(hot.select(concat(lit("cu hot "), col("o_orderkey")).as("name_a")))
      val rights = part.select(
          concat(col("p_name"), lit(" "), (col("p_partkey") % 10).cast("string")).as("name_b"))
        .unionByName(hot.select(concat(lit("cu hot "), col("o_orderkey"), lit(" x")).as("name_b")))
      FuzzyJoinOps.jaroBlockOverflowReport(lefts, rights, "name_a", "name_b",
        blockPrefix = 2, maxBlockSize = 1000)
    }),

    // ---- P9: Benford first-digit conformity — the fraud screen on
    //      exact order-total cents per priority class; digits from
    //      the decimal string, χ² over the full 9-digit grid. ----
    "q_benford" -> ((s, dir) => {
      val ord = BioLoader.load(s, t(dir, "orders"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      StatsOps.benfordTest(ord, Seq("o_orderpriority"), "cents")
    }),

    // ---- C33: RFM segmentation — per-customer recency/frequency/
    //      monetary with exact-quintile threshold scores and a
    //      conventional (r, f) segment label; cents-exact monetary. ----
    "q_rfm" -> ((s, dir) => {
      val orders = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "orders")), "o_orderdate")
      FunnelOps.rfm(orders, "o_custkey", "o_orderdate", "o_totalprice", "2001-12-31")
    }),

    // ---- N27: Gini revenue concentration — per market segment,
    //      how unequal per-customer spend is; exact integer rank
    //      sums over cents, broadcast dim join for the segment. ----
    "q_gini" -> ((s, dir) => {
      val spend = BioLoader.load(s, t(dir, "orders"))
        .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val cust = BioLoader.load(s, t(dir, "customer"))
        .select(col("c_custkey"), col("c_mktsegment"))
      StatsOps.giniConcentration(
        spend.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        Seq("c_mktsegment"), "cents", "o_custkey")
    }),

    // ---- N29: binned-CDF approximate quantiles — price percentiles
    //      per return flag from exact per-(group, bin) counts; never
    //      a per-group sort, 1000-cell grid (error ≤ one bin width),
    //      the bin frame SUM-merges across shards. ----
    "q_quantiles" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      StatsOps.approxQuantilesBinned(li, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.25, 0.5, 0.9, 0.99), bins = 1000)
    }),

    // ---- C34: grid-bucketed planar radius join — hash-derived
    //      deterministic coordinates for customers/suppliers, all
    //      pairs within r=15 via the 3×3-cell equi-join (never the
    //      all-pairs scan); dist² exact double arithmetic. ----
    "q_radius_join" -> ((s, dir) => {
      def pts(df: DataFrame, key: String) = df.select(col(key),
        (((col(key) * 48271L) % 100000L).cast("double") / 100.0).as("x"),
        (((col(key) * 69621L) % 100000L).cast("double") / 100.0).as("y"))
      val cust = pts(BioLoader.load(s, t(dir, "customer")), "c_custkey")
      val supp = pts(BioLoader.load(s, t(dir, "supplier")), "s_suppkey")
      SpatialOps.radiusJoin(cust, supp, "x", "y", 15.0,
        Seq("c_custkey"), Seq("s_suppkey"))
    }),

    // ---- X20: Dunning G² collocations — the count-robust
    //      companion to q_collocations: 2×2 bigram-event tables
    //      with exact integer cells, one snapped ln-sum per pair. ----
    "q_llr_collocations" -> ((s, dir) => {
      TextOps.llrCollocations(BioLoader.load(s, t(dir, "documents")), "text",
        minCount = 5, k = 50)
    }),

    // ---- E4: calibration curve — a deterministic hash-derived
    //      pseudo-score on the 1/1000 grid against the is-English
    //      label, bucketed per source; reliability-diagram frame. ----
    "q_calibration" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("is_en", (col("lang") === "en").cast("int"))
      EvalOps.calibrationCurve(d, "is_en", "score", 10, Seq("source"))
    }),

    // ---- E5: two-proportion z-test — even/odd user_ids as A/B
    //      variants, "ever purchased" as the conversion, cohorted by
    //      first-event week; four exact counters per cohort, pooled
    //      z + A&S erfc p-value on the 1e-9 grid. ----
    "q_ab_test" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .filter(col("user_id").isNotNull)
      val subj = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .select(
          date_format(date_trunc("week", col("first_ts")), "yyyy-MM-dd").as("cohort_week"),
          when(col("user_id") % 2 === 0, "A").otherwise("B").as("variant"),
          col("conv"))
      EvalOps.abTest(subj, Seq("cohort_week"), "variant", "conv", "A", "B")
    }),

    // ---- E6: nDCG@10 per user — events ranked by value (best
    //      first), graded relevance from the event type; two windows
    //      over one shuffle, snapped discount sums. ----
    "q_ndcg" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("neg_value", -col("value"))
        .withColumn("rel",
          when(col("event_type") === "purchase", 3.0)
            .when(col("event_type") === "signup", 2.0)
            .when(col("event_type") === "click", 1.0)
            .otherwise(0.0))
      EvalOps.ndcgAtK(ev, Seq("user_id"), Seq("neg_value", "event_id"), "rel", k = 10)
    }),

    // ---- E7: binary rank metrics — precision/recall/hit@10 + MRR
    //      per user over the same value-ranked events, purchases as
    //      the relevant class; exact-integer ratios. ----
    "q_rank_metrics" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("neg_value", -col("value"))
        .withColumn("rel", when(col("event_type") === "purchase", 1).otherwise(0))
      EvalOps.rankMetrics(ev, Seq("user_id"), Seq("neg_value", "event_id"), "rel", k = 10)
    }),

    // ---- X22: lexical diversity per source — TTR, hapax fraction,
    //      mean term frequency from one term-count shuffle; the
    //      vocabulary-richness screen beside q_zipf's slope. ----
    "q_lexdiv" -> ((s, dir) => {
      TextOps.lexicalDiversity(BioLoader.load(s, t(dir, "documents")),
        Seq("source"), "text")
    }),

    // ---- X19: Flesch readability — sentence/word/vowel-group
    //      regexp counts; docs get planted sentence punctuation
    //      (the corpus is unpunctuated) so the sentence axis is
    //      exercised. ----
    "q_readability" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat(col("text"), lit(". The end. Quite so!")))
      TextOps.readability(docs, "doc_id", "text")
    }),

    // ---- X17: trigram Stupid Backoff LM — train on even doc_ids,
    //      score the held-out odd docs; every backoff branch a
    //      ratio of integer counts, context totals derived from
    //      the n-gram tables. ----
    "q_lm_backoff" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val lm = LmOps.trainBackoffLm(docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      LmOps.backoffScore(docs.filter(col("doc_id") % 2 === 1), lm, "text", "doc_id")
    }),

    // ---- T10: three-way split on the portable coin — named
    //      fractions partition the bucket space in order. ----
    "q_multi_split" -> ((s, dir) => {
      val bucket = (col("o_orderkey") * 40503L) % 10000L
      SplitOps.multiSplitWith(BioLoader.load(s, t(dir, "orders")), bucket,
          Seq("train" -> 0.7, "val" -> 0.15, "test" -> 0.15))
        .select("o_orderkey", "split")
    }),

    // ---- X18: Unicode script profile — every doc gets a planted
    //      mixed-script tail (Han + Cyrillic + digits), docs with
    //      doc_id % 5 = 0 become Han-dominant; fractions and the
    //      argmax main_script replay per codepoint class. ----
    "q_script_profile" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            lit("数据处理系统与分布式计算引擎 программа 123"))
          .otherwise(concat(col("text"), lit(" 数据系统 пример 42"))))
      TextOps.scriptProfile(docs, "doc_id", "text")
    }),

    // ---- P1: pairwise association rules over customer → supplier
    //      baskets: which suppliers co-occur in a customer's
    //      purchasing, with confidence and lift from exact integer
    //      supports. ----
    "q_rules" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem")).select("l_orderkey", "l_suppkey")
      val ord = BioLoader.load(s, t(dir, "orders")).select("o_orderkey", "o_custkey")
      val baskets = ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"))
      MiningOps.associationRules(baskets, "o_custkey", "l_suppkey",
        minSupport = 3L, minConfidence = 0.2)
    }),

    // ---- P2: top sliding event trigrams across user streams — the
    //      windowed complement of q_paths; counts every consecutive
    //      3-run, ties broken by gram string. ----
    "q_event_ngrams" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.topEventNgrams(ev, "user_id", Seq("ts", "event_id"), "event_type",
        n = 3, k = 25)
    }),

    // ---- P5: per-type value histogram — PSI's clamp-to-edge
    //      binning as a first-class report, exact integer counts. ----
    "q_histogram" -> ((s, dir) => {
      StatsOps.histogram(BioLoader.load(s, t(dir, "events")),
        Seq("event_type"), "value", lo = 0.0, hi = 500.0, bins = 20)
    }),

    // ---- D7i: HITS on the customer → supplier purchase graph (the
    //      q_pagerank edges): hub = customers buying from good
    //      suppliers, authority = suppliers bought by good hubs. 2
    //      L1-normalized half-step pairs, snapped per step, so the
    //      unrolled SQL replay is bit-identical. Customers hold
    //      auth 0 and suppliers hub 0 structurally (pure
    //      bipartite). ----
    "q_hits" -> ((s, dir) => {
      GraphOps.hitsOn(sharedPurchaseEm(s, dir), iters = 2)
    }),

    // ---- D14: asymmetric n-gram containment — each doc_id < 200
    //      gets a 120-char snippet twin (id+10000); snippets are
    //      near-fully covered by their source doc while symmetric
    //      jaccard would score them low. Oracle replays the exact
    //      3-gram set containment with the same orientation rule. ----
    "q_containment" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .filter(col("doc_id") < 200).select("doc_id", "text")
      val snips = docs.select((col("doc_id") + 10000L).as("doc_id"),
        substring(col("text"), 1, 120).as("text"))
      DedupOps.containmentPairs(docs.union(snips), "doc_id", "text",
          shingleSize = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), hround(col("containment"), 6).as("containment"))
    }),

    // ---- M14: STREAMING count-min sketch per event-time window —
    //      the frequency twin of q_stream_hll: windowed cell sums in
    //      stream state (≤ d·w rows per window/group cell),
    //      estimates probed batch-side for user_ids < 20 against
    //      exact windowed counts. ----
    "q_stream_cms" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .select(col("ts"), col("event_type"), col("user_id"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit("zz_pusher").as("event_type"), lit(PusherId).as("user_id"))
      val cells = SketchOps.cmsSketchWindowed(
        ev.unionByName(pusher), "ts", Seq("event_type"), "user_id",
        windowLen = "3 days", watermark = "1 hour", d = 4, w = 256)
      val sunk = graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(cells, "m14cms", mode = "update")
      }
      // exact windowed truth for a bounded probe set, batch side
      val batch = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      val probes = batch.filter(col("user_id") < 20)
        .groupBy(window(col("ts"), "3 days").as("w"), col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_true"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("user_id"), col("n_true"))
      SketchOps.cmsEstimate(
          sunk.filter(col("event_type") =!= "zz_pusher"),
          Seq("window_start", "event_type"), probes, "user_id", d = 4, w = 256)
        .select(expr("unix_micros(window_start)").as("start_us"),
          col("event_type"), col("user_id"), col("n_true"), col("cms_est"))
    }),

    // ---- M18: STREAMING quantile-bin sketch per event-time window —
    //      the quantile member of the windowed-sketch trio: ≤ 50
    //      counter rows per (window, event_type) in stream state on
    //      the declared [0, 500) grid, median + p95 read from the
    //      sunk cells' CDF batch-side. ----
    "q_stream_quantiles" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .select(col("ts"), col("event_type"), col("value"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit("zz_pusher").as("event_type"), lit(0.0).as("value"))
      val cells = SketchOps.quantileBinsWindowed(
        ev.unionByName(pusher), "ts", Seq("event_type"), "value",
        windowLen = "3 days", lo = 0.0, hi = 500.0, bins = 50, watermark = "1 hour")
      val sunk = graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(cells, "m18qbins", mode = "update")
      }
      SketchOps.quantilesFromBins(
          sunk.filter(col("event_type") =!= "zz_pusher"),
          Seq("window_start", "event_type"), lo = 0.0, hi = 500.0, bins = 50,
          probs = Seq(0.5, 0.95))
        .select(expr("unix_micros(window_start)").as("start_us"),
          col("event_type"), col("p"), col("n"), col("quantile"))
    }),

    // ---- N43: mergeable hash-sample quantile sketch — the
    //      unknown-range/heavy-tail complement to q_quantiles'
    //      fixed grid. Built PER SHARD, merged, then read: the
    //      oracle computes the global bottom-k directly, so a wrong
    //      merge (bottom-k is a semilattice; merged must equal
    //      global) hash-mismatches. Rank = md5-52bit of event_id —
    //      deterministic, partition-invariant. ----
    "q_tdigest" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events")).filter(col("value").isNotNull)
      val shards = SketchOps.quantileSampleSketch(
        ev.withColumn("__shard", (col("event_id") % 4).cast("int")),
        Seq("event_type", "__shard"), "event_id", "value", k = 512)
      val merged = SketchOps.quantileSampleMerge(shards, Seq("event_type"), k = 512)
      SketchOps.quantileSampleQuantiles(merged, Seq("event_type"), Seq(0.5, 0.9, 0.99))
        .select(col("event_type"), col("p"), col("q"),
          col("n_sample").cast("long").as("n_sample"), col("n"))
    }),

    // ---- G11: plan → solve → APPLY — the solved waterfill rates
    //      executed against the corpus with the portable coin; one
    //      deterministic path from recipe to sampled rows. ----
    "q_mix_apply" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val stats = docs.groupBy(col("source"))
        .agg(sum(col("n_chars")).as("avail"))
        .withColumn("w",
          (lit(1) + regexp_extract(col("source"), "\\d+", 0).cast("int") % 5)
            .cast("double"))
      val solved = MixOps.solveMixtureBudget(stats, "source", "avail", "w",
        budget = 80000.0, maxRate = 0.8)
      MixOps.applyMixture(docs, solved, "source", "doc_id")
        .select("doc_id", "source")
    }),

    // ---- N44: KS drift straight FROM the sketches — the even/odd
    //      event halves sketched separately (k=256), D read off the
    //      joined sample arrays; raw frames never meet. ----
    "q_sketch_ks" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events")).filter(col("value").isNotNull)
      val a = SketchOps.quantileSampleSketch(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "event_id", "value", k = 256)
      val b = SketchOps.quantileSampleSketch(
        ev.filter(col("event_id") % 2 === 1), Seq("event_type"), "event_id", "value", k = 256)
      SketchOps.quantileSampleKs(a, b, Seq("event_type"))
    }),

    // ---- M24: streaming windowed hash-sample quantile sketch —
    //      per-(3-day window, type) bounded k-entry sample state,
    //      NO declared range (vs q_stream_quantiles' fixed grid);
    //      the sunk sketches are read batch-side with the same
    //      estimator the batch oracle replays. ----
    "q_stream_tdigest" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .select(col("ts"), col("event_id"), col("event_type"), col("value"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit(-1L).as("event_id"), lit("zz_pusher").as("event_type"),
          lit(0.0).as("value"))
      val cells = SketchOps.quantileSampleWindowed(
        ev.unionByName(pusher), "ts", Seq("event_type"), "event_id", "value",
        k = 256, windowLen = "3 days", watermark = "1 hour")
      val sunk = graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(cells, "m24qs", mode = "update")
      }
      SketchOps.quantileSampleQuantiles(
          sunk.filter(col("event_type") =!= "zz_pusher"),
          Seq("window_start", "event_type"), Seq(0.5, 0.95))
        .select(expr("unix_micros(window_start)").as("start_us"),
          col("event_type"), col("p"), col("q"),
          col("n_sample").cast("long").as("n_sample"), col("n"))
    }),

    // ---- X16: boilerplate line removal — each doc gets a planted
    //      per-source footer (shared by its 25 source-mates) plus a
    //      unique tail; the footer must vanish, everything else
    //      must survive in order. ----
    "q_boilerplate" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat_ws("\n", col("text"),
          concat(lit("(c) boilerplate footer of "), col("source")),
          concat(lit("unique tail "), col("doc_id"))))
      TextOps.stripBoilerplate(docs, "doc_id", "text", Seq("source"), minDocs = 5)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"))
    }),

    // ---- N18: EWMA control chart — per-user sequential anomaly
    //      flags on event values; the EWMA is the mergeable
    //      affine-scan aggregate snapped per step, so the oracle
    //      replays the identical recurrence via a recursive CTE. ----
    "q_ewma" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      DriftOps.ewmaChart(ev, Seq("user_id"), Seq("ts", "event_id"), "value",
          lambda = 0.25, nSigma = 3.0, minPrior = 5)
        .select(col("event_id"), col("user_id"), col("ewma"),
          col("is_anomaly").cast("int").as("is_anomaly"))
    }),

    // ---- N30: Brown double-EWMA forecast — per-user trend-aware
    //      smoothing over the event-value series, 3-step-ahead
    //      extrapolation; two chained snapped affine scans in one
    //      window sort, replayed by a recursive CTE carrying both
    //      smoother states. ----
    "q_double_ewma" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      DriftOps.doubleEwmaForecast(ev, Seq("user_id"), Seq("ts", "event_id"), "value",
          lambda = 0.25, horizon = 3)
        .select(col("event_id"), col("user_id"), col("s1"), col("s2"),
          col("level"), col("trend"), col("forecast"))
    }),

    // ---- C28: cohort retention — weekly cohorts from each user's
    //      first event, activity counted per whole-week offset; one
    //      groupBy(user) pass carries a bounded period set, never
    //      the raw event log. ----
    "q_retention" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      FunnelOps.retention(ev, "user_id", "ts", "week")
        .select(expr("unix_micros(cohort)").as("cohort_us"),
          col("offset"), col("n_active"), col("cohort_size"), col("retention"))
    }),

    // ---- P10: Kaplan–Meier survival per monthly cohort — per-user
    //      observed lifespan (first→last event), censored when the
    //      user was still active within 14 days of the corpus end;
    //      the censoring-aware churn curve retention can't give. ----
    "q_survival" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      val gmax = ev.agg(max(col("ts")).as("gmax"))
      val subj = perUser.crossJoin(broadcast(gmax))
        .select(date_trunc("month", col("first_ts")).as("cohort"),
          datediff(col("last_ts").cast("date"), col("first_ts").cast("date"))
            .cast("long").as("dur"),
          when(col("last_ts") < col("gmax") - expr("INTERVAL 14 DAYS"), 1L)
            .otherwise(0L).as("ev"))
      FunnelOps.kaplanMeier(subj, Seq("cohort"), "dur", "ev")
        .select(expr("unix_micros(cohort)").as("cohort_us"), col("t"),
          col("at_risk"), col("d"), col("c"), col("survival"))
    }),

    // ---- N17: chi-squared independence per source — is language
    //      independent of document length? Contingency counts in one
    //      map-side-combinable shuffle; the full a×b grid (zero
    //      cells included) rebuilt from marginals; survival series
    //      unrolled per observed dof. ----
    "q_chi2" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("len_hi", (col("n_chars") >= 300).cast("int"))
      StatsOps.chiSquaredIndependence(d, Seq("source"), "lang", "len_hi")
    }),

    // ---- N19: mutual information between language and document
    //      length per source — the information-theoretic twin of
    //      q_chi2 on the same contingency machinery; every term an
    //      integer-count ratio on the 1e-9 grid. ----
    "q_mutual_info" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("len_hi", (col("n_chars") >= 300).cast("int"))
      StatsOps.mutualInformation(d, Seq("source"), "lang", "len_hi")
    }),

    // ---- N20: one-way ANOVA F per feature across return-flag
    //      groups — the parametric companion to q_difftest_k on the
    //      same long-format fixture. ----
    "q_anova_f" -> ((s, dir) => {
      val long = BioLoader.load(s, t(dir, "lineitem"))
        .select((col("l_partkey") % 100).as("feature"), col("l_returnflag").as("grp"),
          col("l_quantity").as("v"))
      StatsOps.anovaF(long, "feature", "v", "grp")
    }),

    // ---- N21: Pearson correlation matrix between event types over
    //      users (entity = user, feature = event type, value = the
    //      user's grid-snapped mean event value) — pairwise-complete
    //      semantics via the entity self-join. ----
    "q_corr_matrix" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg((floor(avg(col("value")) * 1e9 + lit(0.5)) / 1e9).as("m"))
      StatsOps.correlationMatrix(ev, "user_id", "event_type", "m")
    }),

    // ---- S10: PCA — top principal component of the embedding
    //      corpus via ONE fixed-size Gram aggregation + driver-side
    //      snapped power iteration (8 rounds), projection as a
    //      broadcast-literal fold. ----
    "q_pca" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      PcaOps.fitProject(emb, "vec_id", "embedding", dim = 64, nComponents = 1, iters = 8)
    }),

    // ---- C25: CUBE over (returnflag, linestatus) — all four
    //      grouping sets in one pass with explicit grouping flags. ----
    "q_cube" -> ((s, dir) => {
      BioLoader.load(s, t(dir, "lineitem"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), hround(sum("l_quantity"), 6).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
    }),

    // ---- N16: robust outlier detection — median/MAD z-scores on
    //      event values per type, |z| > 3.5 (Iglewicz–Hoaglin). The
    //      exact quantiles come from the distinct-value cumulative
    //      machinery, so every med/mad/z is replayable arithmetic
    //      over integer counts — no quantile_cont formula roulette. ----
    "q_outliers" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
        .select(col("event_id"), col("event_type"), col("value"))
      StatsOps.robustZ(ev, Seq("event_type"), "value")
        .filter(abs(col("robust_z")) > 3.5)
        .select(col("event_id"), col("event_type"),
          hround(col("value"), 6).as("value"), hround(col("med"), 6).as("med"),
          hround(col("mad"), 6).as("mad"), hround(col("robust_z"), 6).as("robust_z"))
    }),

    // ---- N14: PSI drift score — 1998+ orders against the pre-1998
    //      reference, per priority class, 20 equal bins on total
    //      price. Each side collapses to ≤ groups×bins rows before
    //      the join; per-bin terms snap to 1e-9 so the Σ replays. ----
    "q_drift_psi" -> ((s, dir) => {
      val ord = BioLoader.load(s, t(dir, "orders"))
      val ref = ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val cur = ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      DriftOps.psi(ref, cur, Seq("o_orderpriority"), "o_totalprice",
        lo = 0.0, hi = 500000.0, bins = 20)
    }),

    // ---- N15: two-sample KS statistic per feature — returned 'A'
    //      vs 'N' lineitems on quantity (50 distinct values → the
    //      distinct-value window frame stays tiny by construction).
    //      Every ECDF step is a ratio of exact integer counts. ----
    "q_ks_test" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .select((col("l_partkey") % 50).as("feature"), col("l_returnflag"), col("l_quantity"))
      DriftOps.ksStatistic(
        li.filter(col("l_returnflag") === "A"),
        li.filter(col("l_returnflag") === "N"),
        Seq("feature"), "l_quantity")
    }),

    // ---- M1 (video): REAL ISO-BMFF container codec — synthetic
    //      but VALID MP4 box trees are generated per row (dims/
    //      duration/frames derive from doc_id), parsed back by the
    //      video branch of the mime dispatch; the oracle recomputes
    //      the generating formulas. Exact: all values are small
    //      integers, lossless through the float feature vector. ----
    "q_multimodal_video" -> ((s, dir) => {
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = BioLoader.load(s, t(dir, "documents")).select(col("doc_id")).filter(col("doc_id") < 300)
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("bytes", BinaryType, nullable = true)))
      // COMPLETE MJPEG files (real mdat + sample table, 2 JPEG
      // frames each): frame 0 is solid gray 8+16·(id%16) — a
      // quantization-bucket center, so the keyframe's decoded mean
      // divides back to id%16 exactly despite JPEG loss (±2 of a
      // ±8-wide bucket). Grades the pixel decode path end-to-end.
      val blobs = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        def jpeg(gray: Int, w: Int, h: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (gray << 16) | (gray << 8) | gray
          var y = 0
          while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
          graft.multimodal.MultimodalOps.writeImageInMemory(img, "jpg")
        }
        val w = (64 + id % 32).toInt
        val h = (48 + id % 16).toInt
        val gray = (8 + 16 * (id % 16)).toInt
        org.apache.spark.sql.Row(id, graft.multimodal.Mp4.synthMjpeg(
          width = w, height = h, durationMs = 1000 + id * 10,
          frames = Seq(jpeg(gray, w, h), jpeg(255 - gray, w, h))))
      }, schema)
      val media = graft.multimodal.MultimodalOps.asMediaFrame(blobs, "doc_id", "bytes", "video/mp4")
      val feats = graft.multimodal.MultimodalOps.extractFeatures(media, dim = 9,
        decode = graft.multimodal.MultimodalOps.codecFor("video/mp4", 9))
      feats.select(col("media_id"),
        col("features")(0).cast("long").as("width"),
        col("features")(1).cast("long").as("height"),
        col("features")(2).cast("long").as("duration_ms"),
        col("features")(3).cast("long").as("n_frames"),
        floor(col("features")(6) / 16.0).cast("long").as("kf_gray_bucket"))
    }),

    // ---- M1c: REAL H.264 pixel decode — spec-valid Annex-B
    //      baseline streams (SPS+PPS+IDR, I_PCM macroblocks) are
    //      generated per row with constant planes derived from
    //      doc_id, parsed and decoded by the video/h264 mime branch;
    //      I_PCM is lossless so every feature replays exactly. ----
    "q_h264" -> ((s, dir) => {
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = BioLoader.load(s, t(dir, "documents")).select(col("doc_id")).filter(col("doc_id") < 200)
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("bytes", BinaryType, nullable = true)))
      val blobs = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        def plane(n: Int, v: Int) = Array.fill(n)(v.toByte)
        val (w, h) = (32, 16)
        def frame(f: Long) = (
          plane(w * h, ((id * 16 + f * 32) % 256).toInt,
          ), plane(w * h / 4, ((id * 7) % 256).toInt), plane(w * h / 4, ((id * 11) % 256).toInt))
        org.apache.spark.sql.Row(id,
          graft.multimodal.H264.synth(w, h, Seq(frame(0), frame(1))))
      }, schema)
      val media = graft.multimodal.MultimodalOps.asMediaFrame(blobs, "doc_id", "bytes", "video/h264")
      val feats = graft.multimodal.MultimodalOps.extractFeatures(media, dim = 6,
        decode = graft.multimodal.MultimodalOps.codecFor("video/h264", 6))
      feats.select(col("media_id"),
        col("features")(0).cast("long").as("width"),
        col("features")(1).cast("long").as("height"),
        col("features")(2).cast("long").as("n_frames"),
        col("features")(3).cast("long").as("mean_y"),
        col("features")(4).cast("long").as("mean_cb"),
        col("features")(5).cast("long").as("mean_cr"))
    }),

    // ---- M1b: per-frame video decode — MJPEG blobs (written
    //      MULTI-chunk: samplesPerChunk=2 forces full stsc run
    //      resolution) explode to (media_id, frame_idx, features);
    //      frame f of doc d is solid gray at bucket (d+5f)%16, so
    //      every decoded frame's mean divides back exactly ----
    "q_video_frames" -> ((s, dir) => {
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = BioLoader.load(s, t(dir, "documents")).select(col("doc_id")).filter(col("doc_id") < 200)
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("bytes", BinaryType, nullable = true)))
      val blobs = s.createDataFrame(ids.rdd.map { r =>
        val id = r.getLong(0)
        def jpeg(gray: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (gray << 16) | (gray << 8) | gray
          var y = 0
          while (y < 32) { var x = 0; while (x < 48) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
          graft.multimodal.MultimodalOps.writeImageInMemory(img, "jpg")
        }
        val frames = (0 until 3).map(f => jpeg((8 + 16 * ((id + 5 * f) % 16)).toInt))
        org.apache.spark.sql.Row(id, graft.multimodal.Mp4.synthMjpeg(
          width = 48, height = 32, durationMs = 3000L, frames = frames, samplesPerChunk = 2))
      }, schema)
      val media = graft.multimodal.MultimodalOps.asMediaFrame(blobs, "doc_id", "bytes", "video/mp4")
      graft.multimodal.MultimodalOps.decodeFrames(media, stride = 1, dim = 5)
        .select(col("media_id"), col("frame_idx"),
          floor(col("features")(2) / 16.0).cast("long").as("gray_bucket"))
    }),

    // ---- M4: streaming exact-dedup within the watermark — a REAL
    //      streaming run (file source → dropDuplicatesWithin
    //      Watermark → memory sink); with a horizon wider than the
    //      event span the output keys are exactly the distinct
    //      keys, whichever arrival won each ----
    "q_stream_dedup" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
        streamTable(s, dir, "events", EventsSchema), "ts")
      val kept = graft.streaming.EventStreams
        .streamingDedup(ev, Seq("user_id", "event_type"), watermark = "36500 days")
      // scope the knob to the stream START only — eager batch-side
      // prep (corpus blooms, band tables) keeps session parallelism
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(kept.select("user_id", "event_type"), "m4dedup", quiesce = false)
      }
    }),

    // ---- M10: streaming range enrich — the SAME binned equi-join
    //      as q_range_join with the point side streamed; the join is
    //      row-local against the broadcast intervals, so the stream
    //      result equals the batch result and shares its oracle ----
    "q_stream_range_join" -> ((s, dir) => {
      val c = streamTable(s, dir, "customer", CustomerSchema)
        .select("c_custkey", "c_acctbal")
      val iv = BioLoader.load(s, t(dir, "supplier"))
        .select(col("s_suppkey"),
          (col("s_acctbal") - lit(50.0)).as("lo"), (col("s_acctbal") + lit(50.0)).as("hi"))
      val joined = graft.operators.RangeJoinOps
        .pointInInterval(c, "c_acctbal", iv, "lo", "hi", binWidth = 100.0, broadcastIntervals = true)
        .select(col("c_custkey"), col("s_suppkey"), hround(col("c_acctbal"), 2).as("bal"))
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(joined, "m10range", quiesce = false)
      }
    }),

    // ---- M17: STREAMING radius join — the spatial twin of M10:
    //      customer points arrive as a stream, the supplier grid
    //      (with its 9-cell expansion) is the static side, the cell
    //      equi-join is stateless stream-static. ----
    "q_stream_radius_join" -> ((s, dir) => {
      val c = streamTable(s, dir, "customer", CustomerSchema)
        .select(col("c_custkey"),
          (((col("c_custkey") * 48271L) % 100000L).cast("double") / 100.0).as("x"),
          (((col("c_custkey") * 69621L) % 100000L).cast("double") / 100.0).as("y"))
      val sup = BioLoader.load(s, t(dir, "supplier"))
        .select(col("s_suppkey"),
          (((col("s_suppkey") * 48271L) % 100000L).cast("double") / 100.0).as("x"),
          (((col("s_suppkey") * 69621L) % 100000L).cast("double") / 100.0).as("y"))
      val joined = SpatialOps.radiusJoin(c, sup, "x", "y", 15.0,
        Seq("c_custkey"), Seq("s_suppkey"))
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(joined, "m17radius", quiesce = false)
      }
    }),

    // ---- M9: streaming corpus-membership dedup — Bloom-only probe
    //      (no false negatives: members are NEVER kept; fpp 1e-9
    //      makes a false-positive drop vanishingly unlikely, so the
    //      exact NOT-IN oracle holds) ----
    "q_stream_corpus_dedup" -> ((s, dir) => {
      val docs = streamTable(s, dir, "documents", DocsSchema)
      val corpus = BioLoader.load(s, t(dir, "documents")).filter(col("doc_id") % 2 === 0)
      // the corpus bloom builds eagerly here, at session parallelism
      val kept = DedupOps.dedupAgainstCorpusStream(docs, corpus, "text",
        expectedCorpusItems = 100000L, fpp = 1e-9)
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(kept.select("doc_id"), "m9corpus", quiesce = false)
      }
    }),

    // ---- M8: streaming decontamination — Bloom-only 5-gram probe
    //      against the planted eval set (same fixture as the batch
    //      q_decontaminate, same true-intersection oracle;
    //      contaminated docs are NEVER kept, and fpp 1e-9 keeps the
    //      false-positive direction out of the sample) ----
    "q_stream_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val evalDf = Seq(
        "the secret holdout benchmark sentence for contamination screening",
        "another hidden evaluation phrase guarded against training data leakage"
      ).toDF("text")
      val docs = streamTable(s, dir, "documents", DocsSchema)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" the secret holdout benchmark sentence for contamination screening")))
          .otherwise(col("text")))
      val kept = DedupOps.decontaminateStream(docs, evalDf, "text",
        n = 5, expectedEvalShingles = 1000L, fpp = 1e-9)
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(kept.select("doc_id"), "m8decon", quiesce = false)
      }
    }),

    // ---- L13: WebDataset tar-shard export/ingest — the
    //      multimodal loader layout ({key}.{field} members in POSIX
    //      ustar shards the system tar can list); documents written
    //      and read back byte-exactly. ----
    "q_webdataset" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .select(col("doc_id").cast("string").as("key"), col("text"),
          col("lang"), col("source"))
      val tmp = tmpDir(s, "graft-wds")
      graft.sources.WebDatasetIO.write(docs.repartition(8), "file:" + tmp + "/docs", "key")
      graft.sources.WebDatasetIO.read(s, "file:" + tmp + "/docs", docs.schema, "key")
    }),

    // ---- L12: TFRecord export/ingest — the training-loader
    //      handoff: documents written as CRC32C-framed tf.train
    //      .Example shards (hand-rolled wire format, no TF dep),
    //      read back byte-exactly. ----
    "q_tfrecord" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .select("doc_id", "text", "lang", "source", "n_chars")
      val tmp = tmpDir(s, "graft-tfr")
      graft.sources.TfRecordIO.write(docs.repartition(8), "file:" + tmp + "/docs")
      graft.sources.TfRecordIO.read(s, "file:" + tmp + "/docs", docs.schema)
    }),

    // ---- D18: persisted decontamination Bloom — the gate built
    //      once from HALF the eval suite, the other half MERGED in,
    //      then the batch probe against the saved file; same
    //      planted fixture + true-5-gram-intersection oracle as
    //      q_stream_decontaminate. ----
    "q_bloom_persist" -> ((s, dir) => {
      import s.implicits._
      val ev1 = Seq("the secret holdout benchmark sentence for contamination screening").toDF("text")
      val ev2 = Seq("another hidden evaluation phrase guarded against training data leakage").toDF("text")
      val tmp = tmpDir(s, "graft-bloom")
      val path = "file:" + tmp + "/decon.bloom"
      DedupOps.saveDecontaminationBloom(ev1, "text", path,
        n = 5, expectedEvalShingles = 1000L, fpp = 1e-9)
      DedupOps.mergeIntoDecontaminationBloom(s, path, ev2, "text",
        n = 5, expectedEvalShingles = 1000L, fpp = 1e-9)
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" the secret holdout benchmark sentence for contamination screening")))
          .otherwise(col("text")))
      DedupOps.decontaminateWithSavedBloom(docs, path, "text", n = 5)
        .select("doc_id")
    }),

    // ---- D17: persisted cross-run band index — build on the even
    //      half, APPEND ids ≡ 1 (mod 4), then dedup the full synth
    //      set against the saved bucketed table: survivors must be
    //      exactly ids ≡ 3 (mod 4), pinning build + append + probe
    //      in one grade. Disjoint-vocab texts make band collisions
    //      structural (collide iff equal text). ----
    "q_band_index" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .select(col("doc_id"), synthTextOf(col("doc_id")).as("text"))
      DedupOps.saveBandIndex(docs.filter(col("doc_id") % 2 === 0), "text",
        "graft_band_idx", shingleSize = 3, numHashes = 16)
      DedupOps.appendToBandIndex(s, "graft_band_idx",
        docs.filter(col("doc_id") % 4 === 1), "text",
        shingleSize = 3, numHashes = 16)
      DedupOps.dedupAgainstBandIndex(docs, "graft_band_idx", "doc_id", "text",
          shingleSize = 3, numHashes = 16)
        .select("doc_id")
    }),

    // ---- M6: stream-vs-static-corpus NEAR dedup. Synthetic
    //      disjoint-vocabulary docs (tokens carry the doc id) make
    //      band collisions structural: a doc shares bands with the
    //      corpus iff its text IS a corpus text — so streaming the
    //      whole table against the even-id half must keep exactly
    //      the odd ids. The far-future pusher advances the
    //      watermark so every real window emits. ----
    "q_stream_corpus_near" -> ((s, dir) => {
      val stream = synthDocStreamDeterministic(s, dir, twins = false)
      val corpus = BioLoader.load(s, t(dir, "documents"))
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), synthTextOf(col("doc_id")).as("text"))
      // 4 bands (16 hashes): twins share ALL bands whatever the band
      // count, so the planted oracle is band-count-invariant — the
      // smaller signature quarters the stream-side state and shuffle
      val kept = graft.streaming.EventStreams.streamingDedupAgainstCorpus(
        stream, corpus, "doc_id", "text", shingleSize = 3, numHashes = 16,
        watermark = "10 seconds", windowLen = "1 minute")
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(kept, "m6near").filter(col("doc_id") < PusherId).select("doc_id")
      }
    }),

    // ---- M7: streaming MinHash-LSH dedup WITHIN the stream
    //      (transformWithState band state machine on the RocksDB
    //      store). Each synthetic doc arrives twice — original and
    //      id+1000000 twin with IDENTICAL text — in one batch; the
    //      earlier (ts, id) owns every band, so exactly the
    //      originals survive the doc-level combine. ----
    "q_stream_minhash" -> ((s, dir) => {
      // transformWithState needs the RocksDB provider; restore the
      // session's previous provider afterwards so queries running
      // later in the same session keep their own state store
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = synthDocStreamDeterministic(s, dir, twins = true)
        // 4 bands (16 hashes) — see q_stream_corpus_near; quarters the
        // RocksDB band-state population
        val kept = graft.streaming.EventStreams.streamingMinhashDedup(
          stream, "doc_id", "text", shingleSize = 3, numHashes = 16,
          watermark = "10 seconds", stateTtlMs = 3600 * 1000L, windowLen = "1 minute")
        graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
          // only the pusher is excluded: a wrongly-RETAINED twin
          // (id >= 1000000) must surface as an extra row and fail the
          // oracle's rows_match, so the dedup's one failure mode is
          // visible to the driver grade, not masked by the output cut
          runStreamToMemory(kept, "m7minhash").filter(col("doc_id") < PusherId).select("doc_id")
        }
      } finally prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None    => s.conf.unset(provKey)
      }
    }),

    // ---- BM25 full-text retrieval: top-20 docs for a fixed 4-term
    //      query (Lucene idf variant, k1=1.2, b=0.75). Scores snap
    //      to the 1e-6 grid BEFORE the top-k cut and ties break by
    //      doc_id, so the ranking is stable across engines. ----
    "q_bm25" -> ((s, dir) => {
      RetrievalOps.bm25TopK(BioLoader.load(s, t(dir, "documents")), "text", "doc_id",
        Seq("vector", "hash", "stream", "window"), k = 20)
    }),

    // ---- X26: BM25 hot-term telemetry — the D12-style overflow
    //      report for the inverted index. A planted stopword-grade
    //      term ('zzhotterm' in EVERY doc) must surface with
    //      df = n_docs / df_frac = 1.0 exactly; the 10%-planted
    //      'zzrareterm' must stay below the 50% gate. The graded
    //      projection is the DuckDB-replayable part (df / corpus
    //      fractions); bucket shares ride the ungraded columns. ----
    "q_bm25_overflow" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat(col("text"), lit(" zzhotterm"),
          when(col("doc_id") % 10 === 0, lit(" zzrareterm")).otherwise(lit(""))))
      val post = RetrievalOps.postings(docs, "text", "doc_id")
      RetrievalOps.hotTermReport(post, docs.count(), nBuckets = 64, minDfFrac = 0.5)
        .select(col("term"), col("df"), col("df_frac"), col("postings_share"))
    }),

    // ---- X13: sublinear TF-IDF retrieval — the lexical baseline
    //      next to q_bm25 (same query, same scale shape, smoothed
    //      non-negative idf). ----
    "q_tfidf" -> ((s, dir) => {
      RetrievalOps.tfidfTopK(BioLoader.load(s, t(dir, "documents")), "text", "doc_id",
        Seq("vector", "hash", "stream", "window"), k = 20)
    }),

    // ---- X14: PMI collocation extraction — the corpus's most
    //      associated adjacent word pairs (integer-count PMI on the
    //      1e-9 grid, minCount-gated, top-50). ----
    "q_collocations" -> ((s, dir) => {
      TextOps.collocations(BioLoader.load(s, t(dir, "documents")), "text",
        minCount = 5, k = 50)
    }),

    // ---- BM25 persisted inverted index: build → save (term-hash
    //      bucketed postings + stats sidecar) → search with bucket
    //      partition pruning. Same oracle as q_bm25: the index
    //      round-trip must not change a single score. ----
    "q_bm25_persist" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val path = tmpDir(s, "graft-bm25") + "/idx"
      RetrievalOps.saveIndex(docs, "text", "doc_id", path, nBuckets = 16)
      RetrievalOps.searchIndex(s, path, Seq("vector", "hash", "stream", "window"), k = 20)
    }),

    // ---- BM25 incremental append: index half the corpus, append
    //      the other half, search. Stats merge from exact integer
    //      sums, so the oracle is the SAME full-corpus replay —
    //      growth must not change a single score. ----
    "q_bm25_append" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val path = tmpDir(s, "graft-bm25a") + "/idx"
      RetrievalOps.saveIndex(docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", path, nBuckets = 16)
      RetrievalOps.appendToIndex(s, docs.filter(col("doc_id") % 2 === 1), "text", "doc_id", path)
      RetrievalOps.searchIndex(s, path, Seq("vector", "hash", "stream", "window"), k = 20)
    }),

    // ---- X27: BM25 compaction re-gate — an APPEND can push a term
    //      past the build-time df gate (appends are deliberately
    //      gate-free); compactIndex re-measures df over the postings
    //      on disk and re-applies the gate via a staged swap. The
    //      corpus is truncated to each doc's first 6 words (natural
    //      df_frac ≲ 0.23, measured at sf0.01/sf0.1 — safely under
    //      the 0.3 gate, which in turn sits under the planted 0.5
    //      crossing with margin on both sides) with TWO
    //      planted leaks: 'zzhotterm' in EVERY doc (gated at build;
    //      the append re-leaks its odd-doc postings) and 'zzgrowterm'
    //      in ODD docs only (df 0 at build, ~0.5 after append — the
    //      exact after-the-fact crossing). Compact must drop both, so
    //      searching all six terms scores ONLY the four natural ones
    //      — bit-identical to a fresh gated build over the union
    //      corpus (the spec pins that equality; the oracle replays
    //      the fresh-build scores). ----
    "q_bm25_compact" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
        .withColumn("text", concat(
          concat_ws(" ", slice(split(col("text"), " "), 1, 6)),
          lit(" zzhotterm"),
          when(col("doc_id") % 2 === 1, lit(" zzgrowterm")).otherwise(lit(""))))
      val path = tmpDir(s, "graft-bm25c") + "/idx"
      RetrievalOps.saveIndex(docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", path,
        nBuckets = 16, maxDfFrac = 0.3)
      RetrievalOps.appendToIndex(s, docs.filter(col("doc_id") % 2 === 1), "text", "doc_id", path)
      RetrievalOps.compactIndex(s, path, maxDfFrac = 0.3)
      RetrievalOps.searchIndex(s, path,
        Seq("vector", "hash", "stream", "window", "zzhotterm", "zzgrowterm"), k = 20)
    }),

    // ---- Bigram-LM quality scoring (CCNet-style): train on the
    //      corpus, score the corpus. Every probability is a ratio
    //      of integer counts, so the oracle replays the model
    //      exactly; the per-doc ln-sum snaps to the 1e-6 grid. ----
    "q_lm_score" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      LmOps.nllScore(docs, LmOps.trainBigramLm(docs, "text", "doc_id"), "text", "doc_id")
    }),

    // ---- D7b: distributed connected components (alternating
    //      large-star / small-star — O(log n) rounds, edges never
    //      grow). Chain edges (doc i → i+1 within blocks of 8)
    //      force multi-hop transitivity that single-key grouping
    //      cannot resolve; components are closed-form:
    //      component = doc_id − doc_id % 8. ----
    "q_connected_components" -> ((s, dir) => {
      val ids = BioLoader.load(s, t(dir, "documents")).select(col("doc_id"))
      val edges = ids.select(col("doc_id").as("src"))
        .join(ids.select(col("doc_id").as("dst")), col("dst") === col("src") + 1)
        .filter(col("src") % 8 =!= 7)
      GraphOps.connectedComponents(edges)
    }),

    // ---- Z-order layout: Morton key over (l_partkey, l_suppkey).
    //      Quantization is BIGINT-only arithmetic, so the oracle
    //      replays every row's curve cell bit-for-bit. (The write
    //      path — range-partition on zvalue → per-file span bounds
    //      on BOTH dims — is pinned by LayoutOpsSpec.) ----
    "q_zorder" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      LayoutOps.withZValue(li, Seq("l_partkey", "l_suppkey"), bits = 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("zvalue"))
    }),

    // ---- k-means document clustering (Lloyd's, k=8, 2 update
    //      rounds, init = embeddings of the 8 smallest vec_ids —
    //      no RNG). Centroids snap to the 1e-9 grid after each
    //      update so the oracle's unrolled-iteration replay cannot
    //      drift; argmin ties break toward the lower cluster id on
    //      both engines. ----
    "q_kmeans" -> ((s, dir) => {
      KMeansOps.fitTransform(
        BioLoader.load(s, t(dir, "embeddings")), "embedding", "vec_id", k = 8, iters = 2)
    }),

    // ---- Alpha diversity (richness / Shannon / Gini–Simpson) per
    //      sample, computed with the one-shuffle identities
    //      H = ln T − (Σ v ln v)/T and Σp² = Σv²/T². Samples are
    //      orders, features parts, abundances quantities. ----
    "q_alpha_div" -> ((s, dir) => {
      DiversityOps.alphaDiversity(
        BioLoader.load(s, t(dir, "lineitem")), "l_orderkey", "l_partkey", "l_quantity")
    }),

    // ---- Bray–Curtis beta diversity over a 50-sample cohort: the
    //      sparse shared-feature equi-join decomposition (pairs
    //      sharing no feature fall out of the outer frame at
    //      BC = 1). Quadratic OUTPUT is definitional; the feature
    //      axis stays distributed. ----
    "q_bray_curtis" -> ((s, dir) => {
      DiversityOps.brayCurtis(
        BioLoader.load(s, t(dir, "lineitem")).filter(col("l_orderkey") <= 200),
        "l_orderkey", "l_partkey", "l_quantity")
    }),

    // ---- Quantile normalization (Bolstad 2003): every sample
    //      forced onto the cross-sample mean distribution by
    //      within-sample rank. row_number ties on
    //      (value, linenumber) keep both engines on the same cut. ----
    "q_quantile_norm" -> ((s, dir) => {
      NormalizeOps.quantileNormalize(
        BioLoader.load(s, t(dir, "lineitem")), "l_orderkey", "l_extendedprice", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"), hround(col("qnorm"), 6).as("qnorm"))
    }),

    // ---- Paragraph-level exact dedup (MassiveText-style): chunk
    //      the corpus deterministically, keep each distinct
    //      segment's first occurrence in (doc_id, chunk_id) order.
    //      The fixture unions an id-shifted twin of the even docs,
    //      so every twin chunk is a later exact copy and must drop
    //      while all original chunks survive. ----
    "q_para_dedup" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents")).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      val chunks = MixOps.chunkDocs(docs.unionByName(twins), "doc_id", "text",
        maxTokens = 50, overlap = 10)
      DedupOps.keepFirstOccurrence(chunks, col("chunk_text"),
          Seq(col("doc_id"), col("chunk_id")))
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("chunk_md5"))
    }),

    // ---- Hybrid retrieval: reciprocal-rank fusion of the BM25
    //      lexical top-50 and the brute-force cosine top-50 for
    //      query vector 0 (doc_id and vec_id share the id space).
    //      RRF is rank-only, so the fused scores are exact
    //      1/(60+r) sums both engines replay. ----
    "q_rrf_fusion" -> ((s, dir) => {
      val lexical = RetrievalOps.bm25TopK(
        BioLoader.load(s, t(dir, "documents")), "text", "doc_id",
        Seq("vector", "hash", "stream", "window"), k = 50)
      val emb = BioLoader.load(s, t(dir, "embeddings"))
      val dense = KnnOps.bruteForceTopK(emb.filter(col("vec_id") === 0), emb,
          "vec_id", "embedding", 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      RetrievalOps.rrfFuse(Seq(lexical.select("doc_id", "rank"), dense),
        "doc_id", "rank", k = 20)
    }),

    // ---- Streaming sessionization on Spark's native
    //      session_window: gap-merged per-user sessions in append
    //      mode. An events-typed far-future pusher row drives the
    //      watermark past every real session so they all emit; the
    //      pusher's own session never closes and is filtered
    //      anyway. Oracle: batch gaps-and-islands at MICROSECOND
    //      precision (session_window's merge boundary is inclusive,
    //      so the break condition is diff > gap). ----
    "q_stream_sessions" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .select(col("ts"), col("user_id"), col("value"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit(PusherId).as("user_id"), lit(0.0).as("value"))
      val sess = ev.unionByName(pusher)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
        .select(col("user_id"),
          expr("unix_micros(sw.start)").as("start_us"),
          expr("unix_micros(sw.end)").as("end_us"),
          col("n_events"), hround(col("total_value"), 6).as("total_value"))
      // The pusher filter must run on the SINK table, not inside the
      // streaming plan: a grouping-column predicate pushes below the
      // EventTimeWatermark node and through the union into the pusher
      // branch, dropping the pusher row BEFORE the watermark stats see
      // its far-future timestamp (the watermark then stalls at
      // max-real-event − delay and the last sessions never emit). The
      // pusher's own session never closes, so post-filtering is safe.
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(sess, "m11sess")
      }.filter(col("user_id") =!= PusherId)
    }),

    // ---- M13: streaming HLL — distinct users per (3-day window,
    //      event type) as a windowed register-max aggregation; state
    //      per cell is ≤ 2^p register rows regardless of event count,
    //      and the emitted registers stay max-mergeable downstream.
    //      The harmonic-sum estimate runs batch-side on the sink
    //      (the streaming plan carries one agg). update-mode sink:
    //      the single AvailableNow batch's emitted registers ARE
    //      final, so no eviction batch runs; the pusher's window is
    //      filtered on the sink. ----
    "q_stream_hll" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .select(col("ts"), col("event_type"), col("user_id"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit("zz_pusher").as("event_type"), lit(PusherId).as("user_id"))
      val regs = SketchOps.hllRegistersWindowed(
        ev.unionByName(pusher), "ts", Seq("event_type"), "user_id",
        windowLen = "3 days", watermark = "1 hour")
      val sunk = graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(regs, "m13hll", mode = "update")
      }
      SketchOps.hllEstimateFromRegisters(
          sunk.filter(col("event_type") =!= "zz_pusher"),
          Seq("window_start", "event_type"))
        .select(expr("unix_micros(window_start)").as("start_us"),
          col("event_type"), col("hll_est"), col("registers_hit"))
    }),

    // ---- M12: stream-STREAM interval join — view→purchase
    //      attribution within 1 hour, both sides arriving as
    //      streams of the same file source. Inner matches emit in
    //      the batch where both sides land, so the streamed result
    //      is exactly the batch join the oracle replays. ----
    "q_stream_join" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
        streamTable(s, dir, "events", EventsSchema), "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("ts").as("view_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
      val joined = graft.streaming.EventStreams.streamIntervalJoin(
        views, "v_user", "view_ts",
        purchases, "p_user", "purchase_ts",
        maxLag = "1 hour", watermark = "36500 days")
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(joined.select("view_id", "purchase_id", "v_user"), "m12join", quiesce = false)
      }
    }),

    // ---- HyperLogLog cardinality per group. The md5-based register
    //      computation and the exact decimal harmonic sum make the
    //      ESTIMATE itself a deterministic function of the input set
    //      — an approximate sketch with an exact oracle. ----
    "q_hll" -> ((s, dir) => {
      SketchOps.hllCardinality(
        BioLoader.load(s, t(dir, "lineitem")), Seq("l_returnflag"), "l_orderkey")
    }),

    // ---- C27: count-min sketch — per-returnflag supplier
    //      frequencies estimated from the fixed d×w grid and checked
    //      against the exact counts; same hash-oracle design as HLL
    //      (md5-derived buckets, integer arithmetic throughout). ----
    "q_cms" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .select(col("l_returnflag"), col("l_suppkey"))
      val sketch = SketchOps.cmsSketch(li, Seq("l_returnflag"), "l_suppkey")
      val probes = li.groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(count(lit(1)).as("n_true"))
      SketchOps.cmsEstimate(sketch, Seq("l_returnflag"), probes, "l_suppkey")
    }),

    // ---- PageRank (3 damped power iterations) on the customer →
    //      supplier graph from orders ⋈ lineitem. Ranks snap to the
    //      1e-9 grid each iteration so the unrolled-SQL replay lands on
    //      bit-identical doubles. Suppliers have no out-edges, so
    //      the dangling-mass path is structurally exercised. ----
    "q_pagerank" -> ((s, dir) => {
      sharedPurchaseRanks(s, dir).select("node", "rank")
    }),

    // ---- CDC merge: apply an orders-derived changelog (updates +
    //      o_orderkey%37 deletes, version = o_orderkey) to the
    //      customer snapshot; latest version wins per custkey. ----
    "q_upsert" -> ((s, dir) => {
      val snap = BioLoader.load(s, t(dir, "customer"))
      MergeOps.applyChangelog(snap, changelogFixture(s, dir),
          Seq("c_custkey"), "version", "op")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          hround(col("c_acctbal"), 6).as("c_acctbal"), col("c_mktsegment"))
    }),

    // ---- SCD2: the same change stream (custkeys ≤ 100) collapsed
    //      into validity intervals; deletes close intervals without
    //      opening one. ----
    "q_scd2" -> ((s, dir) => {
      MergeOps.scd2(
        changelogFixture(s, dir).filter(col("c_custkey") <= 100)
          .select("c_custkey", "c_acctbal", "version", "op"),
        Seq("c_custkey"), "version", "op")
        .select(col("c_custkey"), hround(col("c_acctbal"), 6).as("c_acctbal"),
          col("valid_from"), col("valid_to"))
    }),

    // ---- Blocked fuzzy join: id-prefixed part names vs a twin with
    //      one name char deleted for partkey%3 = 0. Prefix-5 blocks
    //      (id div 10) keep candidates linear; the levenshtein gate
    //      runs inside the hash join. ----
    "q_fuzzy_join" -> ((s, dir) => {
      val base = BioLoader.load(s, t(dir, "part"))
        .select(col("p_partkey"),
          concat(lpad(col("p_partkey").cast("string"), 6, "0"), lit("-"), col("p_name")).as("nm"))
      val left = base.select(col("p_partkey").as("id_l"), col("nm").as("nm_l"))
      val right = base.select(col("p_partkey").as("id_r"),
        when(col("p_partkey") % 3 === 0,
          concat(substring(col("nm"), 1, 9), substring(col("nm"), 11, 100000)))
          .otherwise(col("nm")).as("nm_r"))
      FuzzyJoinOps.fuzzyJoin(left, right, "nm_l", "nm_r", maxDist = 1, blockPrefix = 5)
        .select("id_l", "id_r", "edit_dist")
    }),

    // ---- E8: fairness report — the q_calibration pseudo-score
    //      thresholded at 0.5, "long doc" as truth, language as the
    //      protected attribute; selection-rate disparate-impact
    //      ratios + equal-opportunity gaps from one six-counter
    //      groupBy and a window over the tiny agg frame. ----
    "q_fairness" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("long_doc", (col("n_chars") >= 300).cast("int"))
      EvalOps.fairnessReport(d, "lang", "long_doc", "score", 0.5)
    }),

    // ---- D15: n-gram novelty — odd docs scored against the
    //      even-doc reference corpus; Bloom clears definite-novel
    //      shingles in the scan, only suspects ride the exact
    //      hash join. Oracle = true 3-gram set difference. ----
    "q_novelty" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      DedupOps.ngramNovelty(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", n = 3, expectedRefShingles = 100000L)
    }),

    // ---- D19: exact-substring span dedup (Lee et al. 2022) —
    //      every 5-token window repeated anywhere in the corpus
    //      keeps its first (doc_id, pos) site; later sites are
    //      scrubbed token-wise and the text re-joined. ----
    "q_substring_dedup" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents")).select("doc_id", "text")
      DedupOps.removeRepeatedNgrams(docs, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("text_clean"), col("removed_tokens"))
    }),

    // ---- P11: rolling active users — DAU/WAU/MAU + stickiness
    //      over the 30-day event log; distinct user-day collapse
    //      first, fixed 28× fan-out, observed-day clamp. ----
    "q_active_users" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.activeUsers(ev, "user_id", "ts", Seq(1, 7, 28))
    }),

    // ---- C36: multi-touch attribution — purchases credit the
    //      view/click/signup touches of the trailing 3 days:
    //      first/last exact integers, linear 1/n on the snap
    //      grid; one user-keyed hash join. ----
    "q_attribution" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      FunnelOps.attribution(ev, "user_id", "ts", "event_id", "event_type",
        convType = "purchase", touchTypes = Seq("view", "click", "signup"),
        lookbackSeconds = 259200L)
    }),

    // ---- N31: Holt–Winters additive forecast per user — the
    //      seasonal member of the sequential-scan family (EWMA band,
    //      CUSUM, Brown); seasonLen=4 with exact-binary smoothing
    //      weights, every update snapped, recursive-CTE oracle. ----
    "q_holt_winters" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .filter(col("value").isNotNull)
      DriftOps.holtWinters(ev, Seq("user_id"), Seq("ts", "event_id"), "value",
          seasonLen = 4, alpha = 0.5, beta = 0.25, gamma = 0.125)
        .select(col("event_id"), col("user_id"), col("level"), col("trend"),
          col("seasonal"), col("forecast"))
    }),

    // ---- M20: STREAMING Holt–Winters (N31 in stream state — the
    //      buffered event-time-ordered replay): bit-identical to
    //      the batch scan, so the same recursion grades the
    //      streamed run. ----
    "q_stream_hw" -> ((s, dir) => {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = BioLoader.nanosToTimestamp(
            streamTable(s, dir, "events", EventsSchema), "ts")
          .select(col("ts"), col("user_id"), col("event_id"), col("value"))
        val pusher = streamTable(s, dir, "nation",
            "n_nationkey INT, n_name STRING, n_regionkey INT")
          .filter(col("n_nationkey") === 0)
          .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
            lit(PusherId).as("user_id"), lit(-1L).as("event_id"),
            lit(null).cast("double").as("value"))
        val hw = graft.streaming.EventStreams.streamingHoltWinters(
          ev.unionByName(pusher), seasonLen = 4,
          alpha = 0.5, beta = 0.25, gamma = 0.125, watermark = "1 hour")
        graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
          runStreamToMemory(hw, "m20hw").filter(col("user_id") =!= PusherId)
        }
      } finally prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None    => s.conf.unset(provKey)
      }
    }),

    // ---- N32: autocorrelation per user at lags 1..5 — the
    //      seasonality screen that picks holtWinters' seasonLen;
    //      bounded lag fan-out + position self-join + snapped-means
    //      Pearson. ----
    "q_autocorr" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.autocorrelation(ev, Seq("user_id"), Seq("ts", "event_id"),
        "value", maxLag = 5)
    }),

    // ---- E10: clipped bigram P/R/F1 — candidates vs references
    //      with planted prefix additions (doc_id%3=0) and fully
    //      unrelated references (doc_id%7=0); exact multiplicity
    //      clipping, BLEU-style null for gram-less texts. ----
    "q_ngram_prf" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("ref",
          when(col("doc_id") % 7 === 0, lit("a wholly unrelated reference text"))
            .when(col("doc_id") % 3 === 0, concat(lit("extra leading words "), col("text")))
            .otherwise(col("text")))
      EvalOps.ngramPrf(d, "doc_id", "text", "ref", n = 2)
    }),

    // ---- C38: daily OHLC bars per user — open/close by the
    //      (ts, event_id) order struct inside ONE aggregation,
    //      exact integer bucket ids. ----
    "q_bars" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.ohlcBars(ev, Seq("user_id"), "ts", Seq("ts", "event_id"),
          "value", bucketSeconds = 86400L)
        .select(col("user_id"), col("bucket_start"), col("n"),
          hround(col("open"), 6).as("open"), hround(col("high"), 6).as("high"),
          hround(col("low"), 6).as("low"), hround(col("close"), 6).as("close"),
          hround(col("sum"), 6).as("total"), hround(col("mean"), 6).as("mean"))
    }),

    // ---- G8: stride-scheduled interleave — src0/src1 run hot
    //      (weights 2/1 vs 0.5 default); vt is a per-row formula,
    //      no global sort in the plan. ----
    "q_interleave" -> ((s, dir) => {
      MixOps.interleaveBySource(BioLoader.load(s, t(dir, "documents")),
          "source", Seq("doc_id"), Map("src0" -> 2.0, "src1" -> 1.0), defaultWeight = 0.5)
        .select("doc_id", "source", "src_rank", "vt")
    }),

    // ---- C39: rolling HLL distinct users — the sketch path for
    //      DAU/WAU/MAU (≤ days·4096 register rows after the first
    //      collapse vs the full user-day frame); register-max IS
    //      the rolling union. ----
    "q_active_hll" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
        .filter(col("user_id").isNotNull)
      SketchOps.hllRollingDistinct(ev, "ts", "user_id", Seq(1, 7, 28), p = 12)
    }),

    // ---- M21: STREAMING daily OHLC bars — min_by/max_by as lawful
    //      streaming aggregates, seven scalars of state per
    //      (window, user); the batch q_bars replay grades the
    //      streamed run. ----
    "q_stream_bars" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .select(col("ts"), col("user_id"), col("event_id"), col("value"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit(PusherId).as("user_id"), lit(-1L).as("event_id"), lit(0.0).as("value"))
      val bars = SequenceOps.ohlcBarsWindowed(ev.unionByName(pusher),
        Seq("user_id"), "ts", Seq("ts", "event_id"), "value",
        windowLen = "1 day", watermark = "1 hour")
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(bars, "m21bars", mode = "update").filter(col("user_id") =!= PusherId)
          .select(col("user_id"), col("bucket_start"), col("n"),
            hround(col("open"), 6).as("open"), hround(col("high"), 6).as("high"),
            hround(col("low"), 6).as("low"), hround(col("close"), 6).as("close"),
            hround(col("sum"), 6).as("total"), hround(col("mean"), 6).as("mean"))
      }
    }),

    // ---- C40: week-over-week deltas per event type — one
    //      calendar-period collapse + a lag window over the tiny
    //      periods frame; pct on the snap grid. ----
    "q_pop" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.periodOverPeriod(ev, Seq("event_type"), "ts", "value", "week")
    }),

    // ---- C41: snapshot diff — customer vs a mutated twin
    //      (drops, balance bumps, synthetic adds); one full-outer
    //      key join, null-safe column compare. ----
    "q_snapshot_diff" -> ((s, dir) => {
      val cust = BioLoader.load(s, t(dir, "customer"))
      val newDf = cust.filter(col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal", when(col("c_custkey") % 7 === 0,
          col("c_acctbal") + 100.0).otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      MergeOps.snapshotDiff(cust, newDf, Seq("c_custkey"),
          Seq("c_acctbal", "c_mktsegment"))
        .select(col("c_custkey"), col("status"), col("changed_cols"),
          hround(col("old_c_acctbal"), 6).as("old_c_acctbal"),
          hround(col("new_c_acctbal"), 6).as("new_c_acctbal"),
          col("old_c_mktsegment"), col("new_c_mktsegment"))
    }),

    // ---- P13: declarative data-quality report — five checks over
    //      orders in ONE data pass (+ one shuffle for uniqueness);
    //      range and regex checks catch real violations. ----
    "q_quality_checks" -> ((s, dir) => {
      val ord = BioLoader.load(s, t(dir, "orders"))
      QualityOps.check(ord, Seq(
        QualityOps.NotNull("o_custkey"),
        QualityOps.InRange("o_totalprice", 0.0, 300000.0),
        QualityOps.InSet("o_orderstatus", Seq("O", "F", "P")),
        QualityOps.Matches("o_orderpriority", "[1-5]-[A-Z]+"),
        QualityOps.Unique(Seq("o_orderkey"))))
    }),

    // ---- T11: temporal split — train on the past 80% of event
    //      rows, exact type-7 percentile cutoff on integer µs as a
    //      1-row broadcast; the time-leakage guard. ----
    "q_temporal_split" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SplitOps.temporalSplit(ev, "ts", testFraction = 0.2)
        .select("event_id", "split")
    }),

    // ---- N35: additive seasonal decomposition per user —
    //      5-point centered MA trend, phase-mean seasonal centered
    //      to ~0, residual; the retrospective companion of
    //      q_holt_winters. ----
    "q_seasonal_decomp" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      DriftOps.seasonalDecompose(ev, Seq("user_id"), Seq("ts", "event_id"),
          "value", seasonLen = 4)
        .select("event_id", "user_id", "phase", "trend", "seasonal", "residual")
    }),

    // ---- G13: end-to-end curation pipeline — quality score →
    //      median gate → exact dedup → temperature re-balance, the
    //      composition a training-data run actually executes; each
    //      stage keeps its own scale shape and the whole chain
    //      replays in one SQL. ----
    "q_curation_pipeline" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val scored = TextOps.qualityScore(docs, "text")
      val gated = MixOps.filterByQuantile(scored, "quality", 0.5)
      val deduped = DedupOps.exact(gated, "doc_id", col("text"))
      val sampled = MixOps.temperatureSample(deduped, "source", "doc_id",
        alpha = 0.5, targetFraction = 0.8)
      sampled.select(col("doc_id"), col("source"), col("quality"))
    }),

    // ---- N40: partial autocorrelation per user at lags 1..3 —
    //      Durbin-Levinson over the ACF frame, the AR-order picker
    //      beside q_autocorr; recursion snapped per assignment. ----
    "q_pacf" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      SequenceOps.partialAutocorrelation(ev, Seq("user_id"), Seq("ts", "event_id"),
        "value", maxLag = 3)
    }),

    // ---- N42: Cramér's V — effect size for the q_chi2 association
    //      (significance says "is it real", V says "is it big"). ----
    "q_cramers_v" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("len_hi", (col("n_chars") >= 300).cast("int"))
      StatsOps.cramersV(d, Seq("source"), "lang", "len_hi")
    }),

    // ---- G12: duplicate-downweighting — soft dedup: every copy
    //      kept at weight 1/cluster_size, singletons at 1.0; the
    //      q_leak_split clusters. ----
    "q_dedup_weights" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val keyed = docs.select(col("doc_id"),
        md5(substring(col("text"), 1, 30)).as("k"))
      val w = Window.partitionBy("k")
      val clusters = keyed
        .withColumn("cluster_id", min("doc_id").over(w))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") > 1)
        .select(col("doc_id").as("member"), col("cluster_id"))
      MixOps.dedupWeights(docs, "doc_id", clusters, "cluster_id", "member")
        .select("doc_id", "dedup_weight")
    }),

    // ---- G14: DSIR importance weights (Xie et al. 2023) — raw =
    //      the whole documents corpus, target = its English subset;
    //      every doc scores log p_target − log p_raw under hashed
    //      unigram+bigram models (portable md5-fold buckets, so the
    //      whole pipeline — features, counts, smoothing, per-doc
    //      fold — replays in ANSI SQL). The scoring pass itself is
    //      zero-shuffle: the 512-entry log-ratio table rides into
    //      the scan as a literal. ----
    "q_dsir" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      MixOps.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 512, alpha = 0.5)
    }),

    // ---- G14b: the FULL DSIR selection step (the paper's pipeline:
    //      importance weights → sample ∝ exp(weight) without
    //      replacement) — per-source top-20 via the
    //      Efraimidis-Spirakis portable-coin sampler, so weights,
    //      exp, and the sample ranks all replay in one SQL. One
    //      id-keyed join to re-attach source (at corpus scale the
    //      weights frame is persisted anyway), one group shuffle
    //      into the bounded TopK aggregate. ----
    "q_dsir_select" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val w = MixOps.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 512, alpha = 0.5)
      val scored = docs.select("doc_id", "source").join(w, "doc_id")
        .withColumn("sel_w", exp(col("dsir_weight")))
      MixOps.weightedSamplePerGroup(scored, "source", "doc_id", "sel_w", k = 20)
        .select("source", "rank", "doc_id")
    }),

    // ---- C43: time-to-convert per first-touch channel — latency
    //      stats with the exact distinct-value median; the speed
    //      companion of q_attribution. ----
    "q_time_to_convert" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(BioLoader.load(s, t(dir, "events")), "ts")
      FunnelOps.timeToConvert(ev, "user_id", "ts", "event_id", "event_type",
          convType = "purchase", touchTypes = Seq("view", "click", "signup"),
          lookbackSeconds = 259200L)
        .select(col("channel"), col("convs"), hround(col("mean_s"), 6).as("mean_s"),
          col("min_s"), col("max_s"), col("median_s"))
    }),

    // ---- M23: STREAMING windowed Wilson rates — daily purchase
    //      rate with honest error bars; two counters of state per
    //      window, stateless interval arithmetic. ----
    "q_stream_rate" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
        .withColumn("is_purchase", (col("event_type") === "purchase").cast("int"))
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(lit(-1L).as("event_id"), expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit(PusherId).as("user_id"), lit("view").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"),
          lit(0).as("is_purchase"))
      val rates = EvalOps.rateWithCiWindowed(
        ev.unionByName(pusher), "ts", "is_purchase",
        windowLen = "1 day", watermark = "1 hour")
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(rates, "m23rate", mode = "update")
          .filter(col("window_start") < lit("2024-06-01"))
      }
    }),

    // ---- E16: Wilson-interval rates — is-English rate per source
    //      with the error bar that stays in [0,1]; two counters +
    //      scan-stage interval arithmetic. ----
    "q_rate_ci" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("is_en", (col("lang") === "en").cast("int"))
      EvalOps.rateWithCi(d, "is_en", Seq("source"), z = 1.96)
    }),

    // ---- T12: cluster-aware k-fold — the q_leak_split dup
    //      clusters folded together on the portable coin; no
    //      validation fold ever holds a near-copy of a training
    //      row. ----
    "q_group_kfold" -> ((s, dir) => {
      val docs = BioLoader.load(s, t(dir, "documents"))
      val keyed = docs.select(col("doc_id"),
        md5(substring(col("text"), 1, 30)).as("k"))
      val w = Window.partitionBy("k")
      val clusters = keyed
        .withColumn("cluster_id", min("doc_id").over(w))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") > 1)
        .select(col("doc_id").as("member"), col("cluster_id"))
      SplitOps.groupKFoldWith(docs, "doc_id", clusters,
          clusterCol = "cluster_id", memberCol = "member",
          foldOf = key => pmod(key * lit(40503L), lit(5L)).cast("int"))
        .select(col("doc_id"), col("fold_key"), col("fold"))
    }),

    // ---- N38: weight of evidence / information value — which
    //      source predicts "long doc"; per-category WOE + IV
    //      contributions from one contingency shuffle. ----
    "q_woe" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("long_doc", (col("n_chars") >= 300).cast("int"))
      StatsOps.weightOfEvidence(d, "source", "long_doc")
    }),

    // ---- E15: cumulative gains/lift at score deciles — the
    //      campaign-targeting read-out on the q_calibration
    //      pseudo-score; ntile + cumulative windows over the
    //      decile frame. ----
    "q_gains" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("long_doc", (col("n_chars") >= 300).cast("int"))
      EvalOps.gainsChart(d, "long_doc", "score", "doc_id", n = 10)
    }),

    // ---- E16: isotonic (PAV) calibration of an exact-cents order
    //      score against a deterministic noisy outcome whose base
    //      rate rises with price — the bin table is ≤64 rows from
    //      ONE groupBy(cell) collapse; the driver PAV's pooled
    //      rates replay through the minimax identity in SQL (see
    //      CalibrateOps: correct rounding is monotone, so the
    //      max-min over double quotients IS the pooled mean). ----
    "q_isotonic" -> ((s, dir) => {
      val o = BioLoader.load(s, t(dir, "orders"))
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .withColumn("y",
          (((col("o_orderkey") * lit(48271L)) % lit(100000L)) * lit(60L) < col("cents"))
            .cast("int"))
      CalibrateOps.isotonicCalibrate(o, "cents", "y", bins = 64).table
    }),

    // ---- E17: split-conformal prediction interval per return flag
    //      for a fixed unit-price regressor — finite-sample q_hat =
    //      ⌈(n+1)(1−α)⌉-th smallest calibration residual off the
    //      distinct-residual frame, empirical coverage on the
    //      held-out split; the multiplicative hash bucket keeps the
    //      split engine-replayable. ----
    "q_conformal" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .withColumn("pred", col("l_quantity").cast("double") * lit(1800.0))
        .withColumn("is_cal",
          ((col("l_orderkey") * lit(7L) + col("l_linenumber")) * lit(48271L)) % lit(10000L)
            < lit(2500L))
      CalibrateOps.splitConformal(li, "l_returnflag", "l_extendedprice", "pred",
        alpha = 0.1, isCalCol = "is_cal")
    }),

    // ---- E14: average precision per source — the q_calibration
    //      pseudo-score's full PR-area, distinct-score blocks with
    //      snapped per-block terms. ----
    "q_avg_precision" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("long_doc", (col("n_chars") >= 300).cast("int"))
      EvalOps.averagePrecision(d, "long_doc", "score", Seq("source"))
    }),

    // ---- D16: phonetic fuzzy join — soundex blocks with vowel-
    //      mutated twins (consonant-initial first words of part
    //      names, 1-in-20 sample); Jaro-Winkler gate at 0.85. The
    //      oracle blocks on the (replayable) first letter — a
    //      soundex superset — and the gate decides identically. ----
    "q_phonetic_join" -> ((s, dir) => {
      val base = BioLoader.load(s, t(dir, "part"))
        .filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey"), split(col("p_name"), " ").getItem(0).as("w"))
        .filter(!substring(col("w"), 1, 1).isin("a", "e", "i", "o", "u"))
      val left = base.select(col("p_partkey").as("id_l"), col("w").as("nm_l"))
      val right = base.select(col("p_partkey").as("id_r"),
        when(col("p_partkey") % 3 === 0, translate(col("w"), "aeiou", "eioua"))
          .otherwise(col("w")).as("nm_r"))
      FuzzyJoinOps.fuzzyJoinPhonetic(left, right, "nm_l", "nm_r", minSim = 0.85)
        .select("id_l", "id_r", "jw_sim")
    }),

    // ---- N37: rank-based inverse normal transform per feature —
    //      Blom offsets + Moro probit (GWAS normalization); one
    //      feature-partitioned window, pure scan-stage arithmetic,
    //      Horner chains generated from shared coefficients. ----
    "q_int_transform" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      NormalizeOps.inverseNormalTransform(li, "l_partkey", "l_quantity")
    }),

    // ---- N36: Spearman rank correlation matrix — the robust twin
    //      of q_corr_matrix on the same per-user event-type means;
    //      fractional ranks (tie-averaged, exact halves) through
    //      the identical five-sum machinery. ----
    "q_spearman" -> ((s, dir) => {
      val ev = BioLoader.load(s, t(dir, "events"))
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg((floor(avg(col("value")) * 1e9 + lit(0.5)) / 1e9).as("m"))
      StatsOps.spearmanMatrix(ev, "user_id", "event_type", "m")
    }),

    // ---- E13: precision-recall curve — the q_calibration
    //      pseudo-score swept over 5 thresholds; fixed literal
    //      fan-out, one groupBy(threshold). ----
    "q_pr_curve" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("long_doc", (col("n_chars") >= 300).cast("int"))
      EvalOps.prCurve(d, "long_doc", "score", Seq(0.1, 0.3, 0.5, 0.7, 0.9))
    }),

    // ---- M22: STREAMING quality monitor — daily violation
    //      counters for three row checks in ONE windowed streaming
    //      aggregation + a stateless stack to long form. ----
    "q_stream_quality" -> ((s, dir) => {
      val ev = BioLoader.nanosToTimestamp(
          streamTable(s, dir, "events", EventsSchema), "ts")
      val pusher = streamTable(s, dir, "nation",
          "n_nationkey INT, n_name STRING, n_regionkey INT")
        .filter(col("n_nationkey") === 0)
        .select(lit(-1L).as("event_id"), expr("timestamp'2024-06-01 00:00:00'").as("ts"),
          lit(PusherId).as("user_id"), lit("view").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
      val monitored = QualityOps.checkWindowed(ev.unionByName(pusher), "ts", Seq(
        QualityOps.NotNull("user_id"),
        QualityOps.InRange("value", 0.0, 90.0),
        QualityOps.InSet("event_type", Seq("view", "click", "purchase", "signup"))),
        windowLen = "1 day", watermark = "1 hour")
      graft.streaming.EventStreams.withStatePartitions(s, StreamStatePartitions) {
        runStreamToMemory(monitored, "m22q", mode = "update")
          .filter(col("window_start") < lit("2024-06-01"))
      }
    }),

    // ---- D7n: degree power-law MLE on the part co-order graph —
    //      two map-side-combinable shuffles to one (n, α) row. ----
    "q_power_law" -> ((s, dir) => {
      GraphOps.degreePowerLaw(sharedSymGraph(s, dir), dMin = 2L)
    }),

    // ---- C42: golden-record survivorship — most recent non-null
    //      per field within each 10-customer cluster (planted
    //      nulls); single max_by aggregation, no window. ----
    "q_golden" -> ((s, dir) => {
      val cust = BioLoader.load(s, t(dir, "customer"))
        .withColumn("cluster", expr("c_custkey div 10"))
        .withColumn("c_mktsegment", when(col("c_custkey") % 3 === 0,
          lit(null).cast("string")).otherwise(col("c_mktsegment")))
        .withColumn("c_acctbal", when(col("c_custkey") % 4 === 0,
          lit(null).cast("double")).otherwise(col("c_acctbal")))
      MergeOps.goldenRecord(cust, "cluster", Seq("c_custkey"),
          Seq("c_name", "c_acctbal", "c_mktsegment"))
        .select(col("cluster"), col("n_members"), col("c_name"),
          hround(col("c_acctbal"), 6).as("c_acctbal"), col("c_mktsegment"))
    }),

    // ---- C44: per-supplier shipment-coverage islands — explicit
    //      [ship, ship + qty·day] intervals coalesced by overlap
    //      (gaps-and-islands); the two windows and the final groupBy
    //      share ONE supplier hash exchange. ----
    "q_interval_merge" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .withColumn("start_s", expr("unix_micros(l_shipdate) div 1000000"))
        .withColumn("end_s", col("start_s") + col("l_quantity").cast("long") * 86400L)
      IntervalOps.mergeIntervals(li, "l_suppkey", "start_s", "end_s")
    }),

    // ---- E18: Brier + Murphy decomposition per source — the
    //      calibration-quality roll-up of E4's bin frame (four
    //      counters per (source, bin) cell, arithmetic after). ----
    "q_brier" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("is_en", (col("lang") === "en").cast("int"))
      EvalOps.brierDecomposition(d, "is_en", "score", 10, Seq("source"))
    }),

    // ---- N45: Mann–Whitney U per linenumber — returned (R) vs
    //      accepted (A) quantities; midranks from the KW window
    //      machinery, tie-corrected z, rank-biserial effect. ----
    "q_mann_whitney" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
      StatsOps.mannWhitneyU(li, "l_linenumber", "l_quantity", "l_returnflag", "R", "A")
    }),

    // ---- G16: length-sorted batch formation per source with the
    //      padding bill — ONE group-axis window + one groupBy. ----
    "q_length_buckets" -> ((s, dir) => {
      val toks = TextOps.tokenCounts(BioLoader.load(s, t(dir, "documents")), "text")
        .select(col("doc_id"), col("source"), col("n_tokens_ws").cast("long").as("n_tokens"))
      MixOps.lengthBatches(toks, Seq("source"), "doc_id", "n_tokens", batchSize = 32)
    }),

    // ---- E20: expected/maximum calibration error per source — the
    //      L1/L-inf companions of E18's reliability, same bin frame. ----
    "q_ece" -> ((s, dir) => {
      val d = BioLoader.load(s, t(dir, "documents"))
        .withColumn("score", (col("doc_id") * 2654435761L % 1000L).cast("double") / 1000.0)
        .withColumn("is_en", (col("lang") === "en").cast("int"))
      EvalOps.calibrationError(d, "is_en", "score", 10, Seq("source"))
    }),

    // ---- C47: uncovered gaps between shipment-coverage islands —
    //      the inverse read-out of C44, lead window on the island
    //      frame's key partitioning. ----
    "q_interval_gaps" -> ((s, dir) => {
      val li = BioLoader.load(s, t(dir, "lineitem"))
        .withColumn("start_s", expr("unix_micros(l_shipdate) div 1000000"))
        .withColumn("end_s", col("start_s") + col("l_quantity").cast("long") * 86400L)
      IntervalOps.gaps(li, "l_suppkey", "start_s", "end_s")
    }),

    // ---- S15: k-NN classification by retrieval — each planted twin
    //      query votes from its rank-1 corpus neighbor (itself), so
    //      the predicted label is the base vector's label exactly. ----
    "q_knn_classify" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings"))
      val index = IvfKnnOps.buildIndex(emb.select("vec_id", "embedding"),
        "vec_id", "embedding", nLists = 16, maxIter = 5)
      val queries = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      IvfKnnOps.classify(queries, index, "vec_id", "embedding",
        emb.select(col("vec_id"), col("label")), "label", k = 1, nProbe = 4)
    }),

    // ---- N48: Poisson-bootstrap CI for mean balance per segment —
    //      the distributed bootstrap (per-row hash-coin Poisson(1)
    //      multiplicities, exact integer resample sums). ----
    "q_bootstrap_ci" -> ((s, dir) => {
      val cust = BioLoader.load(s, t(dir, "customer"))
        .withColumn("cents", floor(col("c_acctbal") * 100 + lit(0.5)).cast("long"))
      StatsOps.bootstrapMeanCi(cust, Seq("c_mktsegment"), "c_custkey", "cents",
        b = 200, alpha = 0.05, seed = 42L)
    }),

    // ---- X25: per-doc unigram Shannon entropy — the evenness
    //      quality signal; doc-axis-parallel counts, MI-convention
    //      snapped natural-log terms. ----
    "q_entropy" -> ((s, dir) => {
      TextOps.tokenEntropy(BioLoader.load(s, t(dir, "documents")), "doc_id", "text")
    }),

    // ---- S14: mutual-kNN clusters over the planted-twin corpus —
    //      knnGraph edges kept only when BOTH endpoints name each
    //      other at cosine ≥ 0.999, closed by connected components;
    //      each planted pair is an isolated 2-cluster whose id is
    //      the original vec_id. ----
    "q_knn_components" -> ((s, dir) => {
      val emb = BioLoader.load(s, t(dir, "embeddings")).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val corpus = emb.union(twins)
      IvfKnnOps.mutualKnnClusters(corpus, "vec_id", "embedding", k = 3,
          minCosine = 0.999, nLists = 16, nProbe = 4, maxIter = 5)
        .filter(col("member_id") < 50 ||
          (col("member_id") >= 100000L && col("member_id") < 100050L))
    })
  )

  private val EventsSchema =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
  private val CustomerSchema =
    "c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"
  private val DocsSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
  private val PartSchema =
    "p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"
  /** Deterministic CDC change stream derived from orders: one change
    * per order against its customer, version = o_orderkey (globally
    * unique → unique per key), op = D on o_orderkey%37. Shared by
    * q_upsert / q_scd2 so both views of the same stream stay
    * consistent.
    */
  private def changelogFixture(s: SparkSession, dir: String): DataFrame =
    BioLoader.load(s, t(dir, "orders"))
      .select(
        col("o_custkey").as("c_custkey"),
        concat(lit("u#"), col("o_orderkey")).as("c_name"),
        (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_orderkey").as("version"),
        when(col("o_orderkey") % 37 === 0, lit("D")).otherwise(lit("U")).as("op"))

  private val PusherId = 9000000L

  /** Shared by q_double_ewma (batch) and q_stream_forecast (the
    * streamed run must equal it row-for-row): the Brown recursion
    * carrying both smoother states (b1,w1,b2,w2) — s1 snaps out of
    * the first recurrence and feeds the second in the same row,
    * exactly as the chained window aggregates run.
    */
  private val brownForecastOracleSql: String =
    """WITH RECURSIVE s AS (
      |  SELECT event_id, user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
      |  FROM events WHERE value IS NOT NULL
      |), rec AS (
      |  SELECT user_id, r, event_id, b1, w1,
      |    floor((0.25 * (floor(b1 / (1.0 - w1) * 1e9 + 0.5) / 1e9) + 0.75 * 0.0)
      |      * 1e9 + 0.5) / 1e9 AS b2,
      |    CAST(0.75 AS DOUBLE) AS w2
      |  FROM (
      |    SELECT user_id, r, event_id,
      |      floor((0.25 * value + 0.75 * 0.0) * 1e9 + 0.5) / 1e9 AS b1,
      |      CAST(0.75 AS DOUBLE) AS w1
      |    FROM s WHERE r = 1
      |  )
      |  UNION ALL
      |  SELECT user_id, r, event_id, b1, w1,
      |    floor((0.25 * (floor(b1 / (1.0 - w1) * 1e9 + 0.5) / 1e9) + 0.75 * b2p)
      |      * 1e9 + 0.5) / 1e9 AS b2,
      |    w2p * 0.75 AS w2
      |  FROM (
      |    SELECT s.user_id, s.r, s.event_id,
      |      floor((0.25 * s.value + 0.75 * rec.b1) * 1e9 + 0.5) / 1e9 AS b1,
      |      rec.w1 * 0.75 AS w1, rec.b2 AS b2p, rec.w2 AS w2p
      |    FROM rec JOIN s ON s.user_id = rec.user_id AND s.r = rec.r + 1
      |  )
      |), sm AS (
      |  SELECT user_id, event_id,
      |    floor(b1 / (1.0 - w1) * 1e9 + 0.5) / 1e9 AS s1,
      |    floor(b2 / (1.0 - w2) * 1e9 + 0.5) / 1e9 AS s2
      |  FROM rec
      |), lt AS (
      |  SELECT user_id, event_id, s1, s2,
      |    floor((2.0 * s1 - s2) * 1e9 + 0.5) / 1e9 AS level,
      |    floor((0.25 / 0.75 * (s1 - s2)) * 1e9 + 0.5) / 1e9 AS trend
      |  FROM sm
      |)
      |SELECT event_id, user_id, s1, s2, level, trend,
      |  floor((level + 3.0 * trend) * 1e9 + 0.5) / 1e9 AS forecast
      |FROM lt""".stripMargin

  /** File-source stream over ONE table's parquet in the SF dir —
    * FileStreamSource wants a directory, so stream the dir with a
    * per-table glob filter.
    */
  private def streamTable(s: SparkSession, dir: String, table: String, schema: String): DataFrame =
    s.readStream.schema(schema).option("pathGlobFilter", s"$table.parquet").parquet(dir)

  /** Synthetic disjoint-vocabulary text: 10 tokens, each embedding
    * doc_id·100+i — no two docs share a token, so no two docs share
    * a shingle, and LSH band collisions happen iff texts are equal.
    */
  private def synthTextOf(id: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(9)),
      i => concat(lit("tok"), (id * 100 + i).cast("string"))))

  /** ONE documents file-source emitting every fixture role — the
    * original docs, optionally an identical-text `id+1000000` twin
    * per doc, and the single far-future watermark-pusher row (rides
    * on doc_id 0) that closes every real window.
    *
    * Why one source: with separately-unioned file sources, which
    * microbatch each source's rows land in is a FILE-LISTING RACE.
    * If the pusher's batch precedes a doc source's batch, every doc
    * row in the later batch is LATE by almost a day (the fixture's
    * doc event time is one constant) — band-dedup state has been
    * TTL-evicted under the advanced watermark and closed windows
    * drop late rows, so twins were retained or docs vanished
    * depending on the race (the r8 q_stream_minhash twin retention
    * and its 3.3→10.2 s bench wobble were exactly this). A single
    * source puts all roles in the same batch 0; the watermark then
    * advances once, the real window closes in the trailing no-data
    * batch, and the run is deterministic.
    */
  private def synthDocStreamDeterministic(
      s: SparkSession, dir: String, twins: Boolean): DataFrame = {
    val t0 = expr("timestamp'2024-01-01 00:00:00'")
    val t1 = expr("timestamp'2024-01-02 00:00:00'")
    val orig = struct(col("doc_id").as("doc_id"),
      synthTextOf(col("doc_id")).as("text"), t0.as("ts"))
    val twin = struct((col("doc_id") + 1000000L).as("doc_id"),
      synthTextOf(col("doc_id")).as("text"), t0.as("ts"))
    val push = struct(lit(PusherId).as("doc_id"),
      lit("zz yy xx ww vv uu").as("text"), t1.as("ts"))
    val roles = if (twins) array(orig, twin) else array(orig)
    streamTable(s, dir, "documents", DocsSchema)
      .select(explode(concat(roles,
        slice(array(push), lit(1),
          when(col("doc_id") === 0, lit(1)).otherwise(lit(0))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"), col("r.ts").as("ts"))
  }

  /** Run a streaming frame to completion into a uniquely-named
    * memory sink and return the sink table — the harness that lets
    * the driver's batch-compare grade a genuine streaming
    * execution.
    */
  private def runStreamToMemory(
      df: DataFrame,
      prefix: String,
      quiesce: Boolean = true,
      mode: String = "append"): DataFrame = {
    val name = prefix + java.lang.Long.toHexString(System.nanoTime())
    // Trigger.AvailableNow: the engine plans all available source
    // offsets AT START (so multi-source file listings cannot race
    // into different batches — the r9 q_stream_minhash hazard),
    // runs them, runs the trailing watermark/eviction no-data
    // batch, and TERMINATES. awaitTermination is then a complete-
    // output barrier by the trigger's own contract, replacing the
    // r9 harness's processAllAvailable + 400 ms batch-quiescence
    // heuristic. Floor measured ~2.1 s → ~1.6 s per query
    // steady-state at sf0.01 (SCALEPROBE_r10.md §5).
    //
    // quiesce=false marks a STATELESS stream (stream-static join,
    // broadcast-filter): nothing evicts and nothing emits on
    // watermark close, so the trailing no-data batch is a full-plan
    // re-run that produces zero rows by construction — skip it via
    // the engine's own conf (captured at query start; restored
    // immediately after). Stateful streams keep it: append-mode
    // windows/timers emit their final output there.
    //
    // mode="update" is the r12 eviction-batch fusion for PURE
    // windowed aggregations: in update mode the agg emits each
    // (window, group)'s current value in the batch that updates it,
    // so with AvailableNow's single planned data batch the emitted
    // rows ARE the final values and the trailing no-data batch has
    // nothing left to say — it is skipped like the stateless case.
    // This is the production shape too (update stream → idempotent
    // upsert sink); append+watermark stays for timers, session
    // windows, and outer joins, whose FINAL output only exists on
    // watermark close. Multi-batch input would emit a key twice, so
    // the single-data-batch precondition is ASSERTED from the run's
    // own progress, not assumed.
    require(mode == "append" || mode == "update", s"mode must be append|update, got $mode")
    val evict = quiesce && mode == "append"
    val ckpt = scratchRoot.resolve(name).toFile
    val w0 = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val sess = df.sparkSession
    val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = sess.conf.getOption(NoDataKey)
    if (!evict) sess.conf.set(NoDataKey, "false")
    val q =
      try w0.option("checkpointLocation", ckpt.toString).start()
      finally if (!evict) {
        prevNoData.fold(sess.conf.unset(NoDataKey))(v => sess.conf.set(NoDataKey, v))
      }
    // bounded: a stream that fails to self-terminate (wedged source
    // or state store) must not hang a 248-query pass — the old
    // quiesce loop capped its wait the same way. The cap scales
    // with the data (a legitimate sf1 stream-static join measured
    // past the old fixed 120 s): big-SF sweeps raise it via conf.
    val timeoutMs = sess.conf.getOption("spark.graft.streamTimeoutMs")
      .map(_.toLong).getOrElse(120000L)
    try {
      if (!q.awaitTermination(timeoutMs))
        throw new IllegalStateException(
          s"AvailableNow stream $name failed to terminate within ${timeoutMs / 1000}s")
      if (mode == "update") {
        // the finality precondition: exactly one batch carried rows,
        // so every sunk (key) row is that key's LAST update
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        if (dataBatches > 1)
          throw new IllegalStateException(
            s"update-mode stream $name saw $dataBatches data batches — " +
              "sunk rows are no longer final values; run it in append mode")
      }
    } finally {
      q.stop()
      // a named checkpoint is not auto-cleaned the way engine temp
      // checkpoints are
      deleteRecursively(ckpt)
    }
    df.sparkSession.table(name)
  }

  /** Shared by q_dedup_minhash and q_ngram_jaccard — both emit the
    * complete set of word-3-gram jaccard ≥ 0.7 pairs (minhash's LSH
    * candidates and ngram's PPJoin prefixes are both lossless here).
    */
  private def ngramJaccardPairsSqlFrom(src: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\\p{L}\\p{N}]+') IF x <> ''] AS t FROM $src
      |), sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |    ELSE [array_to_string(t, ' ')] END) AS s
      |  FROM toks WHERE len(t) >= 1
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  floor((len(list_intersect(a.s, b.s))::DOUBLE / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))) * 1000000 + 0.5) / 1000000 AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.s, b.s))::DOUBLE / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7""".stripMargin

  private val ngramJaccardOracleSql: String = ngramJaccardPairsSqlFrom("documents")

  // shared by q_radius_join (batch) and q_stream_radius_join (the
  // streamed run joins the identical frames): brute-force all-pairs
  // ground truth with the identical coordinate derivation
  private val radiusJoinOracleSql: String =
    """WITH c AS (
      |  SELECT c_custkey, ((c_custkey * 48271) % 100000) / 100.0 AS x,
      |    ((c_custkey * 69621) % 100000) / 100.0 AS y FROM customer
      |), s AS (
      |  SELECT s_suppkey, ((s_suppkey * 48271) % 100000) / 100.0 AS x,
      |    ((s_suppkey * 69621) % 100000) / 100.0 AS y FROM supplier
      |)
      |SELECT c.c_custkey, s.s_suppkey,
      |  (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
      |FROM c, s
      |WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 225.0""".stripMargin

  // Benford replay: digit from the decimal string of exact cents,
  // expected fractions interpolated as the IDENTICAL JVM double
  // literals the operator plans, zero-cell grid rebuilt
  private val benfordOracleSql: String = {
    val expectedCase = (1 to 9)
      .map(d => s"WHEN g.digit = $d THEN CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE)")
      .mkString("CASE ", " ", " END")
    s"""WITH v AS (
       |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
       |), b AS (
       |  SELECT o_orderpriority, CAST(left(CAST(cents AS VARCHAR), 1) AS INTEGER) AS digit
       |  FROM v WHERE cents > 0
       |), c AS (
       |  SELECT o_orderpriority, digit, CAST(count(*) AS BIGINT) AS n_digit FROM b GROUP BY 1, 2
       |), t AS (
       |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
       |), g AS (
       |  SELECT t.o_orderpriority, t.n, d.digit
       |  FROM t CROSS JOIN (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit) d
       |), f AS (
       |  SELECT g.o_orderpriority, g.digit, COALESCE(c.n_digit, 0) AS n_digit, g.n,
       |    $expectedCase AS expected
       |  FROM g LEFT JOIN c ON g.o_orderpriority = c.o_orderpriority AND g.digit = c.digit
       |), s AS (
       |  SELECT o_orderpriority, digit, n_digit, expected,
       |    floor(CAST(n_digit AS DOUBLE) / n * 1e9 + 0.5) / 1e9 AS frac,
       |    floor(((n_digit - n * expected) * (n_digit - n * expected) / (n * expected)) * 1e9 + 0.5) / 1e9 AS term
       |  FROM f
       |), x AS (
       |  SELECT o_orderpriority, floor(sum(term) * 1e9 + 0.5) / 1e9 AS chi2 FROM s GROUP BY 1
       |)
       |SELECT s.o_orderpriority, s.digit, s.n_digit, s.frac, s.expected, x.chi2
       |FROM s JOIN x ON s.o_orderpriority = x.o_orderpriority""".stripMargin
  }

  // 10 unrolled peel rounds — the operator's fixed point: a
  // converged graph peels to itself, so any round cap ≥ the
  // convergence count yields the identical result on both sides
  private val kCoreOracleSql: String = {
    // AS MATERIALIZED: DuckDB inlines plain CTEs, so a 10-round
    // chain of self-referencing rounds would expand exponentially
    val rounds = (1 to 10).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT node FROM (SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY 1 HAVING count(*) >= 3
         |), e$i AS MATERIALIZED (
         |  SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
         |  JOIN a$i s ON e${i - 1}.u = s.node JOIN a$i d ON e${i - 1}.v = d.node
         |)""".stripMargin
    }
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
       |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |  WHERE l1.l_partkey < l2.l_partkey AND l1.l_quantity > 40 AND l2.l_quantity > 40
       |), ${rounds.mkString(", ")}
       |SELECT node, CAST(count(*) AS BIGINT) AS degree
       |FROM (SELECT u AS node FROM e10 UNION ALL SELECT v FROM e10) GROUP BY 1""".stripMargin
  }

  // shared by q_cusum (batch scan) and q_stream_cusum (the streamed
  // replay is bit-identical on the sealed prefix): the snapped
  // tabular-CUSUM recurrence as a recursive fixed point
  /** Holt–Winters recursive replay (seasonLen=4, α=.5, β=.25,
    * γ=.125 — all exact binary fractions): state (ℓ, b, s0..s3, i)
    * carried through the recursion, the three chained updates
    * computed in nested subqueries so each snapped intermediate is
    * written ONCE (the generated-expression discipline — Spark and
    * DuckDB evaluate the identical formula).
    */
  private val holtWintersOracleSql: String = {
    def sn(e: String) = s"floor(($e) * 1e9 + 0.5) / 1e9"
    val sh = "CASE (rec.i % 4) WHEN 0 THEN rec.s0 WHEN 1 THEN rec.s1 WHEN 2 THEN rec.s2 ELSE rec.s3 END"
    val ln = sn("0.5 * (q.value - q.sh) + 0.5 * (q.lp + q.bp)")
    val fc = sn("q.lp + q.bp + q.sh")
    val bn = sn("0.25 * (m.ln - m.lp) + 0.75 * m.bp")
    val snw = sn("0.125 * (m.value - m.ln) + 0.875 * m.sh")
    s"""WITH RECURSIVE s AS (
       |  SELECT event_id, user_id, value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
       |  FROM events WHERE value IS NOT NULL
       |), rec AS (
       |  SELECT user_id, r, event_id,
       |    CAST(value AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
       |    CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
       |    CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
       |    CAST(1 AS BIGINT) AS i,
       |    CAST(0.0 AS DOUBLE) AS seasonal_out, CAST(NULL AS DOUBLE) AS forecast_out
       |  FROM s WHERE r = 1
       |  UNION ALL
       |  SELECT user_id, r, event_id, ln AS l, $bn AS b,
       |    CASE WHEN ip % 4 = 0 THEN $snw ELSE p0 END AS s0,
       |    CASE WHEN ip % 4 = 1 THEN $snw ELSE p1 END AS s1,
       |    CASE WHEN ip % 4 = 2 THEN $snw ELSE p2 END AS s2,
       |    CASE WHEN ip % 4 = 3 THEN $snw ELSE p3 END AS s3,
       |    ip + 1 AS i, $snw AS seasonal_out, fc AS forecast_out
       |  FROM (
       |    SELECT q.*, $ln AS ln, $fc AS fc FROM (
       |      SELECT s.user_id, s.r, s.event_id, s.value,
       |        rec.l AS lp, rec.b AS bp, rec.s0 AS p0, rec.s1 AS p1,
       |        rec.s2 AS p2, rec.s3 AS p3, rec.i AS ip, $sh AS sh
       |      FROM rec JOIN s ON s.user_id = rec.user_id AND s.r = rec.r + 1
       |    ) q
       |  ) m
       |)
       |SELECT event_id, user_id, l AS level, b AS trend,
       |  seasonal_out AS seasonal, forecast_out AS forecast
       |FROM rec""".stripMargin
  }

  private def sqlHorner(cs: Seq[Double], x: String): String =
    cs.init.foldRight(cs.last.toString)((c, acc) => s"($c + $x * $acc)")

  /** Moro-probit INT replay — the Horner chains are GENERATED from
    * the same coefficient lists the Column expression uses
    * (NormalizeOps.MoroA/B/C), so both engines evaluate the
    * identical formula tree.
    */
  private val intOracleSql: String = {
    import graft.operators.NormalizeOps.{MoroA, MoroB, MoroC}
    val ha = sqlHorner(MoroA, "r"); val hb = sqlHorner(MoroB, "r")
    val hc1 = sqlHorner(MoroC, "ln(-ln(1.0 - u))")
    val hc2 = sqlHorner(MoroC, "ln(-ln(u))")
    s"""WITH b AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
       |    (CAST(rank() OVER (PARTITION BY l_partkey ORDER BY l_quantity) AS DOUBLE)
       |      + (CAST(count(*) OVER (PARTITION BY l_partkey, l_quantity) AS DOUBLE) - 1.0) / 2.0
       |      - 0.375)
       |      / (CAST(count(*) OVER (PARTITION BY l_partkey) AS DOUBLE) + 0.25) AS u
       |  FROM lineitem WHERE l_quantity IS NOT NULL
       |), c AS (
       |  SELECT *, u - 0.5 AS y, (u - 0.5) * (u - 0.5) AS r FROM b
       |)
       |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
       |  floor((CASE WHEN abs(y) <= 0.42 THEN y * $ha / (1.0 + r * $hb)
       |              WHEN y >= 0 THEN $hc1
       |              ELSE -($hc2) END) * 1e9 + 0.5) / 1e9 AS int_value
       |FROM c""".stripMargin
  }

  private val chi2OracleSql: String =
      """WITH d AS (
        |  SELECT source, lang, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS len_hi
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |), obs AS (
        |  SELECT source, lang, len_hi, count(*) AS o FROM d GROUP BY 1, 2, 3
        |), rowm AS (
        |  SELECT source, lang, sum(o) AS ra FROM obs GROUP BY 1, 2
        |), colm AS (
        |  SELECT source, len_hi, sum(o) AS rb FROM obs GROUP BY 1, 2
        |), tot AS (
        |  SELECT source, sum(o) AS n, count(DISTINCT lang) AS ka,
        |    count(DISTINCT len_hi) AS kb
        |  FROM obs GROUP BY 1
        |), grid AS (
        |  SELECT rowm.source, rowm.lang, colm.len_hi,
        |    COALESCE(obs.o, 0) AS o, rowm.ra * colm.rb / CAST(tot.n AS DOUBLE) AS e,
        |    tot.n, tot.ka, tot.kb
        |  FROM rowm
        |  JOIN colm ON rowm.source = colm.source
        |  JOIN tot ON rowm.source = tot.source
        |  LEFT JOIN obs ON obs.source = rowm.source AND obs.lang = rowm.lang
        |    AND obs.len_hi = colm.len_hi
        |), st AS (
        |  SELECT source, CAST(n AS BIGINT) AS n, (ka - 1) * (kb - 1) AS dof,
        |    floor(sum(floor((o - e) * (o - e) / e * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9 AS chi2
        |  FROM grid GROUP BY source, n, ka, kb
        |), erf AS (
        |  SELECT source, n, dof, chi2,
        |    exp(-chi2 / 2.0) AS eh,
        |    sqrt(chi2) / sqrt(2.0) AS z,
        |    1.0 / (1.0 + 0.3275911 * (sqrt(chi2) / sqrt(2.0))) AS s
        |  FROM st
        |), pe AS (
        |  SELECT source, n, dof, chi2, eh,
        |    s * (0.254829592 + s * (-0.284496736 + s * (1.421413741
        |      + s * (-1.453152027 + s * 1.061405429)))) * exp(-z * z) AS erfc
        |  FROM erf
        |)
        |SELECT source, n, CAST(dof AS BIGINT) AS dof, chi2,
        |  floor((CASE dof
        |    WHEN 1 THEN erfc
        |    WHEN 2 THEN eh
        |    WHEN 3 THEN erfc + eh * pow(chi2 / 2.0, 0.5) / (sqrt(pi()) * 0.5)
        |    WHEN 4 THEN eh * (1.0 + chi2 / 2.0)
        |    WHEN 5 THEN erfc + eh * (pow(chi2 / 2.0, 0.5) / (sqrt(pi()) * 0.5)
        |      + pow(chi2 / 2.0, 1.5) / (sqrt(pi()) * 0.75))
        |    WHEN 6 THEN eh * (1.0 + chi2 / 2.0 + pow(chi2 / 2.0, 2.0) / 2.0)
        |    WHEN 7 THEN erfc + eh * (pow(chi2 / 2.0, 0.5) / (sqrt(pi()) * 0.5)
        |      + pow(chi2 / 2.0, 1.5) / (sqrt(pi()) * 0.75)
        |      + pow(chi2 / 2.0, 2.5) / (sqrt(pi()) * 1.875))
        |    WHEN 8 THEN eh * (1.0 + chi2 / 2.0 + pow(chi2 / 2.0, 2.0) / 2.0
        |      + pow(chi2 / 2.0, 3.0) / 6.0)
        |    WHEN 9 THEN erfc + eh * (pow(chi2 / 2.0, 0.5) / (sqrt(pi()) * 0.5)
        |      + pow(chi2 / 2.0, 1.5) / (sqrt(pi()) * 0.75)
        |      + pow(chi2 / 2.0, 2.5) / (sqrt(pi()) * 1.875)
        |      + pow(chi2 / 2.0, 3.5) / (sqrt(pi()) * 6.5625))
        |    WHEN 10 THEN eh * (1.0 + chi2 / 2.0 + pow(chi2 / 2.0, 2.0) / 2.0
        |      + pow(chi2 / 2.0, 3.0) / 6.0 + pow(chi2 / 2.0, 4.0) / 24.0)
        |    WHEN 11 THEN erfc + eh * (pow(chi2 / 2.0, 0.5) / (sqrt(pi()) * 0.5)
        |      + pow(chi2 / 2.0, 1.5) / (sqrt(pi()) * 0.75)
        |      + pow(chi2 / 2.0, 2.5) / (sqrt(pi()) * 1.875)
        |      + pow(chi2 / 2.0, 3.5) / (sqrt(pi()) * 6.5625)
        |      + pow(chi2 / 2.0, 4.5) / (sqrt(pi()) * 29.53125))
        |    WHEN 12 THEN eh * (1.0 + chi2 / 2.0 + pow(chi2 / 2.0, 2.0) / 2.0
        |      + pow(chi2 / 2.0, 3.0) / 6.0 + pow(chi2 / 2.0, 4.0) / 24.0
        |      + pow(chi2 / 2.0, 5.0) / 120.0)
        |    END) * 1e9 + 0.5) / 1e9 AS p_value
        |FROM pe""".stripMargin

  /** Daily OHLC replay — shared by q_bars (batch) and
    * q_stream_bars (the epoch-aligned 1-day window makes the
    * streamed buckets identical).
    */
  private val barsOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, value, ts, event_id,
      |    (epoch_us(ts) // 1000000) // 86400 AS b
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id, b ORDER BY ts, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, b ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM e
      |)
      |SELECT user_id, make_timestamp(b * 86400 * 1000000) AS bucket_start,
      |  CAST(count(*) AS BIGINT) AS n,
      |  floor(max(CASE WHEN ra = 1 THEN value END) * 1e6 + 0.5) / 1e6 AS open,
      |  floor(max(value) * 1e6 + 0.5) / 1e6 AS high,
      |  floor(min(value) * 1e6 + 0.5) / 1e6 AS low,
      |  floor(max(CASE WHEN rd = 1 THEN value END) * 1e6 + 0.5) / 1e6 AS close,
      |  floor((floor(sum(value) * 1e9 + 0.5) / 1e9) * 1e6 + 0.5) / 1e6 AS total,
      |  floor((floor(sum(value) / count(*) * 1e9 + 0.5) / 1e9) * 1e6 + 0.5) / 1e6 AS mean
      |FROM r GROUP BY user_id, b""".stripMargin

  /** Rolling HLL replay: the q_hll digit-by-digit register
    * machinery per DAY, a 28-offset fan-out of the register frame,
    * register-wise max per trailing window, the same HUGEINT
    * harmonic estimate per day — the per-window blocks are
    * GENERATED so all three replay the identical formula.
    */
  private val rollingHllOracleSql: String = {
    val windows = Seq(1, 7, 28)
    val est = windows.map { w =>
      s"""r$w AS (
         |  SELECT day, reg_idx, max(m) AS m FROM f WHERE o < $w GROUP BY 1, 2
         |), a$w AS (
         |  SELECT day, count(*) AS rh,
         |    sum(CAST(pow(2.0, 53 - m) AS HUGEINT)) AS s
         |  FROM r$w GROUP BY 1
         |), o$w AS (
         |  SELECT day, rh, 4096 - rh AS v,
         |    0.7213/(1.0 + 1.079/4096.0) * 4096.0 * 4096.0 * 9007199254740992.0
         |      / CAST(s + CAST(4096 - rh AS HUGEINT)
         |                 * CAST(9007199254740992 AS HUGEINT) AS DOUBLE) AS raw
         |  FROM a$w
         |), e$w AS (
         |  SELECT day,
         |    floor((CASE WHEN raw <= 10240.0 AND v > 0
         |                THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
         |                ELSE raw END) * 1000000 + 0.5)/1000000 AS active_$w
         |  FROM o$w
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH h AS (
       |  SELECT CAST(ts AS DATE) AS dy, md5(CAST(user_id AS VARCHAR)) AS h
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |), idx AS (
       |  SELECT dy,
       |    ((instr('0123456789abcdef', substr(h,1,1))-1)*16
       |      + (instr('0123456789abcdef', substr(h,2,1))-1))*16
       |      + (instr('0123456789abcdef', substr(h,3,1))-1) AS reg_idx,
       |    substr(h,4,13) AS rest
       |  FROM h
       |), rk AS (
       |  SELECT dy, reg_idx,
       |    length(regexp_extract(rest, '^(0*)', 1)) AS z,
       |    instr('0123456789abcdef',
       |      substr(rest, length(regexp_extract(rest, '^(0*)', 1))+1, 1))-1 AS dg
       |  FROM idx
       |), dayregs AS (
       |  SELECT dy, reg_idx,
       |    max(CASE WHEN z = 13 THEN 53
       |        ELSE z*4 + (CASE WHEN dg >= 8 THEN 0 WHEN dg >= 4 THEN 1
       |                         WHEN dg >= 2 THEN 2 ELSE 3 END) + 1 END) AS m
       |  FROM rk GROUP BY 1, 2
       |), obs AS (
       |  SELECT DISTINCT dy AS day FROM dayregs
       |), fan AS (
       |  SELECT dy + CAST(o AS INTEGER) AS day, reg_idx, m, o
       |  FROM dayregs CROSS JOIN (SELECT unnest(range(28)) AS o)
       |), f AS (
       |  SELECT fan.* FROM fan JOIN obs USING (day)
       |), $est
       |SELECT day, active_1, active_7, active_28
       |FROM e1 JOIN e7 USING (day) JOIN e28 USING (day)""".stripMargin
  }

  private val cusumOracleSql: String =
    """WITH RECURSIVE s AS (
      |  SELECT event_id, user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
      |  FROM events
      |), rec AS (
      |  SELECT user_id, r, event_id, value,
      |    CASE WHEN value IS NULL THEN CAST(0.0 AS DOUBLE)
      |      ELSE floor(greatest(0.0, 0.0 + value - 50.0 - 25.0) * 1e9 + 0.5) / 1e9 END AS sp,
      |    CASE WHEN value IS NULL THEN CAST(0.0 AS DOUBLE)
      |      ELSE floor(greatest(0.0, 0.0 + (50.0 - 25.0 - value)) * 1e9 + 0.5) / 1e9 END AS sn
      |  FROM s WHERE r = 1
      |  UNION ALL
      |  SELECT s.user_id, s.r, s.event_id, s.value,
      |    CASE WHEN s.value IS NULL THEN rec.sp
      |      ELSE floor(greatest(0.0, rec.sp + s.value - 50.0 - 25.0) * 1e9 + 0.5) / 1e9 END,
      |    CASE WHEN s.value IS NULL THEN rec.sn
      |      ELSE floor(greatest(0.0, rec.sn + (50.0 - 25.0 - s.value)) * 1e9 + 0.5) / 1e9 END
      |  FROM rec JOIN s ON s.user_id = rec.user_id AND s.r = rec.r + 1
      |)
      |SELECT event_id, user_id,
      |  CASE WHEN value IS NULL THEN NULL ELSE sp END AS s_pos,
      |  CASE WHEN value IS NULL THEN NULL ELSE sn END AS s_neg,
      |  CASE WHEN value IS NULL THEN NULL
      |    WHEN sp > 200.0 OR sn > 200.0 THEN 1 ELSE 0 END AS alarm
      |FROM rec""".stripMargin

  /** Two-level Louvain oracle chain, shared by q_louvain and
    * q_modularity: the 2-round LPA seed (lp1..lp2 — the identical
    * integer chain the q_label_prop oracle uses), the contraction
    * (cross weights cw, super-degrees kdeg), then `RefineRounds`
    * guarded merge sweeps on the contracted graph: a super-node may
    * move only to a SMALLER-labeled neighboring community (sc_r's
    * join gate — labels strictly decrease, so no oscillation) and
    * only when the move's exact-integer score strictly beats the
    * staying-put score (ow_r) — GraphOps.contractedMoveRounds
    * replayed CTE for CTE. `fin` maps the refinement back through
    * the seed. Every CTE is MATERIALIZED: DuckDB inlines CTEs by
    * default, and this chain's references compound multiplicatively
    * without it (an un-materialized run exploded past 20 GB).
    * Pure integer arithmetic until the caller's final SELECT.
    */
  private val RefineRounds = 4
  private def refineRoundSql(r: Int): String = {
    val p = if (r == 1) "s0" else s"s${r - 1}"
    s"""|), sv$r AS MATERIALIZED (
        |  SELECT l.community, sum(k.deg) AS vol FROM $p l JOIN kdeg k USING (node) GROUP BY 1
        |), sk$r AS MATERIALIZED (
        |  SELECT cw.src, l.community AS c, sum(cw.w) AS k FROM cw JOIN $p l ON cw.dst = l.node GROUP BY 1, 2
        |), sc$r AS MATERIALIZED (
        |  SELECT sk$r.src, sk$r.c, 2 * m.m * sk$r.k - kd.deg * v.vol AS score
        |  FROM sk$r
        |  JOIN $p o ON sk$r.src = o.node AND sk$r.c < o.community
        |  JOIN kdeg kd ON kd.node = sk$r.src
        |  JOIN sv$r v ON v.community = sk$r.c
        |  CROSS JOIN m
        |), mv$r AS MATERIALIZED (
        |  SELECT src AS node, c AS community, score FROM (
        |    SELECT src, c, score, row_number() OVER (PARTITION BY src ORDER BY score DESC, c) AS rn FROM sc$r
        |  ) WHERE rn = 1
        |), ow$r AS MATERIALIZED (
        |  SELECT o.node, 2 * m.m * coalesce(k.k, 0) - d.deg * (v.vol - d.deg) AS os
        |  FROM $p o
        |  JOIN kdeg d ON d.node = o.node
        |  JOIN sv$r v ON v.community = o.community
        |  LEFT JOIN sk$r k ON k.src = o.node AND k.c = o.community
        |  CROSS JOIN m
        |), s$r AS MATERIALIZED (
        |  SELECT p.node,
        |    CASE WHEN mv.score IS NOT NULL AND mv.score > ow.os THEN mv.community ELSE p.community END AS community
        |  FROM $p p
        |  LEFT JOIN mv$r mv ON mv.node = p.node
        |  JOIN ow$r ow ON ow.node = p.node"""
  }
  private val LouvainChainSql: String = (
    """WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
      |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |  WHERE l1.l_partkey < l2.l_partkey
      |), m AS MATERIALIZED (
      |  SELECT count(*) AS m FROM e0
      |), e2 AS MATERIALIZED (
      |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0
      |), deg AS MATERIALIZED (
      |  SELECT src AS node, count(*) AS deg FROM e2 GROUP BY 1
      |), lp0 AS MATERIALIZED (
      |  SELECT node, node AS label FROM deg
      |), cn1 AS MATERIALIZED (
      |  SELECT e2.src, l.label, count(*) AS c FROM e2 JOIN lp0 l ON e2.dst = l.node GROUP BY 1, 2
      |), lp1 AS MATERIALIZED (
      |  SELECT src AS node, label FROM (
      |    SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM cn1
      |  ) WHERE rn = 1
      |), cn2 AS MATERIALIZED (
      |  SELECT e2.src, l.label, count(*) AS c FROM e2 JOIN lp1 l ON e2.dst = l.node GROUP BY 1, 2
      |), lp2 AS MATERIALIZED (
      |  SELECT src AS node, label FROM (
      |    SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM cn2
      |  ) WHERE rn = 1
      |), cw AS MATERIALIZED (
      |  SELECT lu.label AS src, lv.label AS dst, count(*) AS w
      |  FROM e2 JOIN lp2 lu ON e2.src = lu.node JOIN lp2 lv ON e2.dst = lv.node
      |  WHERE lu.label <> lv.label GROUP BY 1, 2
      |), kdeg AS MATERIALIZED (
      |  SELECT l.label AS node, sum(d.deg) AS deg FROM lp2 l JOIN deg d USING (node) GROUP BY 1
      |), s0 AS MATERIALIZED (
      |  SELECT node, node AS community FROM kdeg""".stripMargin
    + (1 to RefineRounds).map(r => refineRoundSql(r).stripMargin).mkString
    + s"""
      |), fin AS MATERIALIZED (
      |  SELECT lp2.node, s$RefineRounds.community FROM lp2 JOIN s$RefineRounds ON lp2.label = s$RefineRounds.node
      |)""".stripMargin
  )

  def oracleSql: Map[String, String] = Map(
    "q_load_project" ->
      """SELECT l_orderkey, l_linenumber, floor((l_extendedprice) * 100 + 0.5) / 100 AS price
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin,

    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price,
        |  floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_sample_meta_join" ->
      """SELECT l.l_orderkey, o.o_orderstatus, o.o_totalprice, l.l_linenumber, l.l_quantity
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin,

    "q_join_enrich" ->
      """SELECT r_name, o_orderstatus, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, o_orderstatus""".stripMargin,

    "q_label_encode" ->
      """SELECT c_custkey, c_mktsegment,
        |  dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS encoded_labels
        |FROM customer""".stripMargin,

    "q_binarize" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'F' THEN 1 WHEN o_orderstatus = 'O' THEN 0 ELSE -1 END AS encoded_labels
        |FROM orders""".stripMargin,

    "q_train_test_split" ->
      """SELECT o_orderkey,
        |  CASE WHEN (o_orderkey * 40503) % 10000 < 2000 THEN 'test' ELSE 'train' END AS split
        |FROM orders""".stripMargin,

    "q_kfold" ->
      """SELECT CAST((o_orderkey * 40503) % 5 AS INTEGER) AS fold, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,

    // identical IEEE arithmetic on both sides: BIGINT count * 0.2 in
    // double, floored — the row_number <= n*f comparison admits
    // exactly floor(n*f) rows per label
    "q_stratified_split" ->
      """SELECT o_orderstatus AS label,
        |  CAST(floor(count(*) * 0.2) AS BIGINT) AS n_test,
        |  count(*) - CAST(floor(count(*) * 0.2) AS BIGINT) AS n_train
        |FROM orders GROUP BY 1""".stripMargin,

    "q_melt" ->
      """SELECT p_partkey, 'p_retailprice' AS variable, CAST(p_retailprice AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part""".stripMargin,

    "q_pivot" ->
      """SELECT l_orderkey,
        |  floor((sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)) * 100 + 0.5) / 100 AS "A",
        |  floor((sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)) * 100 + 0.5) / 100 AS "N",
        |  floor((sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)) * 100 + 0.5) / 100 AS "R"
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q_transpose" ->
      """SELECT 'r_regionkey' AS sample,
        |  CAST(sum(CASE WHEN r_name = 'AFRICA' THEN r_regionkey END) AS DOUBLE) AS "AFRICA",
        |  CAST(sum(CASE WHEN r_name = 'AMERICA' THEN r_regionkey END) AS DOUBLE) AS "AMERICA",
        |  CAST(sum(CASE WHEN r_name = 'ASIA' THEN r_regionkey END) AS DOUBLE) AS "ASIA",
        |  CAST(sum(CASE WHEN r_name = 'EUROPE' THEN r_regionkey END) AS DOUBLE) AS "EUROPE",
        |  CAST(sum(CASE WHEN r_name = 'MIDDLE EAST' THEN r_regionkey END) AS DOUBLE) AS "MIDDLE EAST"
        |FROM region""".stripMargin,

    "q_concat_cols" ->
      """WITH l AS (
        |  SELECT c_custkey, c_name, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer
        |), r AS (
        |  SELECT c_acctbal, c_mktsegment, c_custkey AS ck2, row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn FROM customer
        |)
        |SELECT r.c_acctbal, r.c_mktsegment, r.ck2, l.c_custkey, l.c_name
        |FROM l JOIN r USING (rn)""".stripMargin,

    "q_union_aligned" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus, 'a' AS source_split FROM orders
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderstatus, 'b' AS source_split FROM orders""".stripMargin,

    "q_tss" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor((l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey)) * 1000000 + 0.5) / 1000000 AS tss
        |FROM lineitem""".stripMargin,

    "q_clr" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor((ln(l_quantity) - avg(ln(l_quantity)) OVER (PARTITION BY l_orderkey)) * 1000000 + 0.5) / 1000000 AS clr
        |FROM lineitem""".stripMargin,

    "q_zscore" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor(((l_extendedprice - avg(l_extendedprice) OVER (PARTITION BY l_partkey))
        |        / nullif(stddev_samp(l_extendedprice) OVER (PARTITION BY l_partkey), 0)) * 1000000 + 0.5) / 1000000 AS zscore
        |FROM lineitem""".stripMargin,

    "q_minmax" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor(((l_extendedprice - min(l_extendedprice) OVER (PARTITION BY l_partkey))
        |        / nullif(max(l_extendedprice) OVER (PARTITION BY l_partkey)
        |                 - min(l_extendedprice) OVER (PARTITION BY l_partkey), 0)) * 1000000 + 0.5) / 1000000 AS minmax
        |FROM lineitem""".stripMargin,

    "q_impute" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN floor(value) = 0 THEN NULL ELSE floor(value) END AS v
        |  FROM events
        |)
        |SELECT event_id, event_type,
        |  floor((coalesce(v, avg(v) OVER (PARTITION BY event_type))) * 1000000 + 0.5) / 1000000 AS v_imputed
        |FROM e""".stripMargin,

    "q_prevalence" ->
      """SELECT l_partkey, count(DISTINCT l_orderkey) AS n_samples
        |FROM lineitem
        |WHERE l_partkey < 100 AND l_quantity IS NOT NULL AND l_quantity <> 0
        |GROUP BY l_partkey
        |HAVING count(DISTINCT l_orderkey) >= 0.005 * (SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE l_partkey < 100 AND l_quantity IS NOT NULL AND l_quantity <> 0)""".stripMargin,

    "q_topk_per_group" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rank FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rank <= 3""".stripMargin,

    "q_describe" ->
      """SELECT 'l_quantity' AS "column", count(l_quantity) AS n, floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS mean,
        |  floor((min(l_quantity)) * 1000000 + 0.5) / 1000000 AS min, floor((max(l_quantity)) * 1000000 + 0.5) / 1000000 AS max, floor((stddev_samp(l_quantity)) * 1000000 + 0.5) / 1000000 AS stddev
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', count(l_extendedprice), floor((avg(l_extendedprice)) * 1000000 + 0.5) / 1000000,
        |  floor((min(l_extendedprice)) * 1000000 + 0.5) / 1000000, floor((max(l_extendedprice)) * 1000000 + 0.5) / 1000000, floor((stddev_samp(l_extendedprice)) * 1000000 + 0.5) / 1000000
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', count(l_discount), floor((avg(l_discount)) * 1000000 + 0.5) / 1000000,
        |  floor((min(l_discount)) * 1000000 + 0.5) / 1000000, floor((max(l_discount)) * 1000000 + 0.5) / 1000000, floor((stddev_samp(l_discount)) * 1000000 + 0.5) / 1000000
        |FROM lineitem""".stripMargin,

    "q_value_counts" ->
      """SELECT lang, count(*) AS count FROM documents GROUP BY lang""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS dup_key, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // Exact word-3-gram set jaccard in DuckDB: tokenization matches
    // the kernels' `[^\p{L}\p{N}]+` split of lower(text); string
    // shingles stand in for 64-bit shingle hashes (jaccard is
    // invariant under the injective hashing). The LSH candidate
    // stage is lossless on this corpus (verified: LSH pair set ==
    // brute-force pair set), so the oracle is full equality.
    "q_dedup_minhash" -> ngramJaccardOracleSql,
    "q_ngram_jaccard" -> ngramJaccardOracleSql,

    "q_dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS INTEGER) AS hamming
        |FROM documents ORDER BY id_a""".stripMargin,

    "q_embed_dedup" ->
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
        |FROM embeddings ORDER BY id_a""".stripMargin,

    "q_semantic_dedup" ->
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
        |FROM embeddings ORDER BY id_a""".stripMargin,

    "q_knn_lsh" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // planted twins: exact top-1 is the cosine-1.0 twin, retrieved
    // by LSH from the query's own bucket → recall@1 = 1.0 per query
    "q_knn_recall" ->
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS n_hit,
        |  CAST(1 AS BIGINT) AS n_exact, 1.0 AS recall
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // the streamed append must place each twin in the probed list:
    // rank-1 cosine 1.0 at the planted neighbor, same as q_knn_ivf
    "q_stream_ivf" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q_knn_ivf" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // the predicate-passing twin (+200000) must beat the closer-by-
    // tiebreak excluded twin (+100000): rank-1 proves the filter ran
    "q_knn_filtered" ->
      """SELECT vec_id AS query_id, vec_id + 200000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // fixed nProbe=4/8 provably reaches zero predicate survivors
    // (fixed_rows = 0); the adaptive widening must find each query's
    // own signature twin at cos(0)/101 = 0.009901 on the 1e-6 grid
    "q_knn_adaptive" ->
      """SELECT vec_id AS query_id, vec_id + 300000 AS neighbor_id, 0.009901 AS cosine,
        |       CAST(1 AS INTEGER) AS rank, CAST(0 AS BIGINT) AS fixed_rows
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // identical contract to q_knn_filtered — the save/load round-trip
    // must not change which twin wins (the 'en' twin at +200000)
    "q_knn_filtered_persist" ->
      """SELECT vec_id AS query_id, vec_id + 200000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // planted twins are each other's UNIQUE cosine-1.0 neighbor, so
    // the graph's rank-1 edge set over the planted ids is closed-form
    // in both directions
    "q_knn_graph" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 50
        |UNION ALL
        |SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    // the drifted query IS the planted twin's vector, so its rank-1
    // is the twin at cosine 1.0 — through whatever index layout the
    // recall trigger left behind
    "q_ivf_refit" ->
      """SELECT vec_id + 9000000 AS query_id, vec_id + 100000 AS neighbor_id, 1.0 AS cosine, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    "q_knn_pq" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q_knn_pq_rerank" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, 0.0 AS l2sq, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q_knn_opq" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id, md5(
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' reach john.doe@example.com or +1 (555) 123-4567 via https://ex.com/a?b=1 from 10.0.0.1',
        |          'https?://[^\s]+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d().\-\s]{7,}\d', '<PHONE>', 'g')
        |) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Full replication of the stopword-vote heuristic: hits counted
    // with multiplicity per language, argmax with alphabetical-first
    // tie-break (strict > over langs sorted by code), 'und' when no
    // language scores a hit — byte-for-byte the LangIdScore
    // semantics (TextStatsExpression.scala).
    "q_langid" ->
      """WITH f AS (
        |  SELECT lang, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks FROM documents
        |), v AS (
        |  SELECT lang,
        |    len([x FOR x IN toks IF list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf','für','ist','im'], x)]) AS de,
        |    len([x FOR x IN toks IF list_contains(['the','of','and','to','in','is','that','it','for','with','as','was','on','are','this'], x)]) AS en,
        |    len([x FOR x IN toks IF list_contains(['el','la','de','que','y','en','los','del','se','las','por','un','con','una','es'], x)]) AS es,
        |    len([x FOR x IN toks IF list_contains(['le','la','de','et','les','des','en','un','du','une','que','est','pour','qui','dans'], x)]) AS fr
        |  FROM f
        |), p AS (
        |  SELECT lang, CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |    WHEN de = greatest(de, en, es, fr) THEN 'de'
        |    WHEN en = greatest(de, en, es, fr) THEN 'en'
        |    WHEN es = greatest(de, en, es, fr) THEN 'es'
        |    ELSE 'fr' END AS lang_pred
        |  FROM v
        |)
        |SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred""".stripMargin,

    // md5 over the UTF-8 string bytes — DuckDB's md5 takes VARCHAR,
    // Spark's takes the binary cast; both hash identical bytes.
    "q_multimodal" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5, CAST(8 AS INTEGER) AS feat_dim
        |FROM documents""".stripMargin,

    // class arithmetic replay: the planted classes are ≥16 hamming
    // apart and same-class twins hamming-0, so the exact pair set
    // is (a, b) within a doc_id%8 class — any decode/hash/banding
    // defect changes the pair set and fails the hash compare
    "q_image_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.doc_id < b.doc_id AND a.doc_id % 8 = b.doc_id % 8""".stripMargin,

    // the canonical strings are PINNED literally: a normalization
    // defect (missed port, unsorted params, kept fragment…) yields
    // different canonical_url values or split groups → hash fail
    "q_url_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id % 125 AS k FROM documents WHERE doc_id < 500)
        |SELECT 'https://site' || k || '.com/p' || k AS canonical_url,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM d GROUP BY k""".stripMargin,

    // same class-arithmetic replay as q_image_dedup: planted audio
    // classes ≥16 hamming apart, gain-scaled twins hamming-0
    "q_audio_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.doc_id < b.doc_id AND a.doc_id % 8 = b.doc_id % 8""".stripMargin,

    // closed-form replay of the planted constant-signature classes:
    // each over-cap class (r > 50) is exactly 4 quarter-band buckets
    // of r members in BOTH media families
    "q_hamming_overflow" ->
      """WITH p AS (SELECT doc_id, 40 + (doc_id % 4) * 10 AS r
        |           FROM documents WHERE doc_id < 4)
        |SELECT 'image' AS family, CAST(r AS BIGINT) AS n_members,
        |       CAST(4 AS BIGINT) AS n_buckets,
        |       CAST(4 * (r * (r - 1) // 2) AS BIGINT) AS lost_pairs
        |FROM p WHERE r > 50
        |UNION ALL
        |SELECT 'audio' AS family, CAST(r AS BIGINT) AS n_members,
        |       CAST(4 AS BIGINT) AS n_buckets,
        |       CAST(4 * (r * (r - 1) // 2) AS BIGINT) AS lost_pairs
        |FROM p WHERE r > 50""".stripMargin,

    // closed-form replay of the planted variant distances: only the
    // v=0 docs (doc_id < 8) pair within maxHamming 7, at exactly
    // 3/5/7 bits against v = 1/2/3 — any banding incompleteness at
    // radius 5-7 loses rows, any over-generation adds them
    "q_hamming_r7" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 32)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(CASE b.doc_id // 8 WHEN 1 THEN 3 WHEN 2 THEN 5 ELSE 7 END AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.doc_id % 8 = b.doc_id % 8
        |  AND a.doc_id < 8 AND b.doc_id >= 8""".stripMargin,

    "q_salted_join" ->
      """SELECT o.o_orderstatus, count(*) AS n,
        |  floor((sum(l.l_quantity)) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderstatus""".stripMargin,

    "q_dup_clusters" ->
      """WITH keyed AS (SELECT doc_id, md5(substr(text, 1, 30)) AS k FROM documents),
        |     multi AS (SELECT k FROM keyed GROUP BY k HAVING count(*) > 1)
        |SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY k) AS cluster_id
        |FROM keyed WHERE k IN (SELECT k FROM multi)""".stripMargin,

    "q_knn_brute" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    floor((list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) * 1000000 + 0.5) / 1000000 AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q_vec_centroid" ->
      """WITH d AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim1,
        |         unnest(CAST(embedding AS DOUBLE[])) AS val
        |  FROM embeddings
        |)
        |SELECT label, CAST(dim1 - 1 AS INTEGER) AS dim,
        |  floor((avg(val)) * 1000000 + 0.5) / 1000000 AS mean
        |FROM d GROUP BY label, dim1""".stripMargin,

    "q_quality" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks,
        |    greatest(length(text), 1)::DOUBLE AS nchar
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, text, nchar, toks,
        |    greatest(len(toks), 1)::DOUBLE AS ntok,
        |    list_sum([length(x) FOR x IN toks])::DOUBLE / greatest(len(toks), 1) AS mwl,
        |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / nchar AS pd,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / nchar AS dd,
        |    len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS ur,
        |    CASE WHEN len(toks) >= 5 AND len(toks) <= 100000 THEN 1.0 ELSE 0.0 END AS lok
        |  FROM f
        |)
        |SELECT doc_id, floor((mwl) * 1000000 + 0.5) / 1000000 AS mean_word_len, floor((pd) * 1000000 + 0.5) / 1000000 AS punct_density,
        |  floor((dd) * 1000000 + 0.5) / 1000000 AS digit_density, floor((ur) * 1000000 + 0.5) / 1000000 AS unique_ratio,
        |  floor((0.3 * lok + 0.2 * (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
        |    + 0.2 * (1.0 - least(pd * 5, 1.0)) + 0.1 * (1.0 - least(dd * 5, 1.0)) + 0.2 * ur) * 1000000 + 0.5) / 1000000 AS quality
        |FROM g""".stripMargin,

    "q_tokens" ->
      """SELECT doc_id,
        |  CAST(len([x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> '']) AS BIGINT) AS n_tokens_ws
        |FROM documents""".stripMargin,

    "q_mix_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents) WHERE rk <= 10""".stripMargin,

    "q_quantile_filter" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks,
        |    greatest(length(text), 1)::DOUBLE AS nchar
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_sum([length(x) FOR x IN toks])::DOUBLE / greatest(len(toks), 1) AS mwl,
        |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / nchar AS pd,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / nchar AS dd,
        |    len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS ur,
        |    CASE WHEN len(toks) >= 5 AND len(toks) <= 100000 THEN 1.0 ELSE 0.0 END AS lok
        |  FROM f
        |), s AS (
        |  SELECT doc_id,
        |    floor((0.3 * lok + 0.2 * (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
        |      + 0.2 * (1.0 - least(pd * 5, 1.0)) + 0.1 * (1.0 - least(dd * 5, 1.0)) + 0.2 * ur) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM g
        |), thr AS (SELECT quantile_cont(quality, 0.8) AS t FROM s)
        |SELECT doc_id, quality FROM s, thr WHERE quality >= t""".stripMargin,

    "q_group_quantile" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text,
        |    [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks,
        |    greatest(length(text), 1)::DOUBLE AS nchar
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |    list_sum([length(x) FOR x IN toks])::DOUBLE / greatest(len(toks), 1) AS mwl,
        |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / nchar AS pd,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / nchar AS dd,
        |    len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS ur,
        |    CASE WHEN len(toks) >= 5 AND len(toks) <= 100000 THEN 1.0 ELSE 0.0 END AS lok
        |  FROM f
        |), s AS (
        |  SELECT doc_id, lang,
        |    floor((0.3 * lok + 0.2 * (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
        |      + 0.2 * (1.0 - least(pd * 5, 1.0)) + 0.1 * (1.0 - least(dd * 5, 1.0)) + 0.2 * ur) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM g
        |), thr AS (
        |  SELECT lang, max(quality) AS t FROM (
        |    SELECT lang, quality,
        |      row_number() OVER (PARTITION BY lang ORDER BY quality) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS n
        |    FROM s
        |  ) r WHERE rn <= CAST(ceil(n * 0.8) AS BIGINT) GROUP BY lang
        |)
        |SELECT s.doc_id, s.lang, s.quality FROM s JOIN thr USING (lang) WHERE s.quality >= t""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, t, (greatest(len(t) - 50, 0) + 39) // 40 AS kk FROM t
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  md5(array_to_string(t[i*40+1 : i*40+50], ' ')) AS chunk_md5
        |FROM k, UNNEST(generate_series(0, kk)) AS u(i)""".stripMargin,

    "q_pack" ->
      """SELECT count(*) AS n_docs,
        |  CAST(SUM(len([x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''])) AS BIGINT) AS total_tokens,
        |  count(DISTINCT doc_id) AS n_distinct_docs,
        |  CAST(0 AS BIGINT) AS n_violations
        |FROM documents""".stripMargin,

    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, text || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40) AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines,
        |    [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t
        |  FROM d
        |), g AS (
        |  SELECT doc_id,
        |    len(lines)::DOUBLE AS nl, len(list_distinct(lines))::DOUBLE AS dl,
        |    list_sum([length(x) FOR x IN lines])::DOUBLE AS lc,
        |    list_sum([length(x) FOR x IN list_distinct(lines)])::DOUBLE AS dc,
        |    CASE WHEN len(t) >= 3
        |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
        |      ELSE [] END AS grams
        |  FROM l
        |)
        |SELECT doc_id,
        |  floor((1.0 - dl / nl) * 1000000 + 0.5) / 1000000 AS dup_line_frac,
        |  floor(((lc - dc) / greatest(lc, 1.0)) * 1000000 + 0.5) / 1000000 AS dup_line_char_frac,
        |  floor((CASE WHEN len(grams) > 0
        |    THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_3gram_frac
        |FROM g""".stripMargin,

    "q_normalize" ->
      """SELECT doc_id, md5(
        |  trim(regexp_replace(lower(nfc_normalize(text || ' Cafe' || chr(769) || '   MIXED  tail')), '\s+', ' ', 'g'))
        |) AS norm_md5
        |FROM documents""".stripMargin,

    "q_corpus_dedup" ->
      """SELECT doc_id FROM documents
        |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 7 = 0)""".stripMargin,

    "q_decontaminate" ->
      """WITH ev AS (
        |  SELECT * FROM (VALUES
        |    ('the secret holdout benchmark sentence for contamination screening'),
        |    ('another hidden evaluation phrase guarded against training data leakage')) v(text)
        |), evt AS (
        |  SELECT [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM ev
        |), evsh AS (
        |  SELECT flatten(list(CASE WHEN len(t) >= 5
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] FOR i IN range(1, len(t) - 3)]
        |    ELSE [array_to_string(t, ' ')] END)) AS es
        |  FROM evt
        |), d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |    THEN text || ' the secret holdout benchmark sentence for contamination screening'
        |    ELSE text END AS text
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM d
        |), dsh AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] FOR i IN range(1, len(t) - 3)]
        |    ELSE [array_to_string(t, ' ')] END AS s
        |  FROM dt
        |)
        |SELECT doc_id FROM dsh, evsh WHERE NOT list_has_any(s, es)""".stripMargin,

    "q_rollup" ->
      """SELECT l_orderkey, p_type, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS l_quantity
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY l_orderkey, p_type""".stripMargin,

    "q_flatten" ->
      """SELECT l_orderkey, l_linenumber, l_partkey AS "item.pk",
        |  floor((l_quantity) * 100 + 0.5) / 100 AS "item.qty"
        |FROM lineitem""".stripMargin,

    "q_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_totalprice) AS matched_price
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.user_id, o.o_orderdate AS matched_date, o.matched_price
        |FROM events e ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate""".stripMargin,

    "q_asof_broadcast" ->
      """WITH o AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_totalprice) AS matched_price
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.user_id, o.o_orderdate AS matched_date, o.matched_price
        |FROM events e ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) - epoch_ms(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM e
        |)
        |SELECT user_id,
        |  epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS start_ts,
        |  epoch_ms(CAST(max(ts) AS TIMESTAMP)) AS end_ts,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 1000000 + 0.5) / 1000000 AS total_value
        |FROM s GROUP BY user_id, sess""".stripMargin,

    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_events_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n, floor((avg(value)) * 1000000 + 0.5) / 1000000 AS avg_value, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_topk" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, event_id,
        |  floor((value) * 1000000 + 0.5) / 1000000 AS value, rank
        |FROM (SELECT ts, event_type, event_id, value,
        |        ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |                           ORDER BY value DESC, event_id) AS rank
        |      FROM events)
        |WHERE rank <= 3""".stripMargin,

    "q_range_join" ->
      """SELECT c_custkey, s_suppkey,
        |  floor((c_acctbal) * 100 + 0.5) / 100 AS bal
        |FROM customer c JOIN supplier s
        |  ON c.c_acctbal >= s.s_acctbal - 50.0 AND c.c_acctbal <= s.s_acctbal + 50.0""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT l_returnflag, CAST(rank AS BIGINT) AS rank, partkey, cnt
        |FROM (
        |  SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS partkey,
        |    count(*) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY count(*) DESC, CAST(l_partkey AS VARCHAR) ASC) AS rank
        |  FROM lineitem GROUP BY 1, 2
        |) WHERE rank <= 10""".stripMargin,

    "q_temp_sample" ->
      """WITH c AS (
        |  SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1
        |), r AS (
        |  SELECT lang,
        |    floor(least(1.0,
        |      0.5 * sum(n) OVER () * (pow(n, 0.5) / sum(pow(n, 0.5)) OVER ()) / n) * 1000000 + 0.5) / 1000000 AS rate
        |  FROM c
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
        |WHERE (((((d.doc_id % 999983) + 999983) % 999983) * 480879 % 999983) * 104729 % 999983)::DOUBLE / 999983.0 < r.rate""".stripMargin,

    "q_bpe" ->
      """SELECT doc_id, md5(text) AS rt_md5, strlen(text)::BIGINT AS n_bytes
        |FROM documents""".stripMargin,

    "q_bpe_interop" ->
      """SELECT doc_id, md5(text) AS rt_md5, TRUE AS ids_match
        |FROM documents""".stripMargin,

    "q_bpe_chunk" ->
      """SELECT doc_id, md5(text) AS reassembled_md5, TRUE AS within_budget
        |FROM documents""".stripMargin,

    "q_quality_clf" ->
      """SELECT doc_id, 0::BIGINT AS pred FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, 1::BIGINT FROM documents""".stripMargin,

    "q_weighted_sample" ->
      """WITH u AS (
        |  SELECT lang, doc_id, n_chars,
        |    (((((doc_id % 999983 + 999983) % 999983) * 480879 % 999983) * 104729 % 999983) + 1)::DOUBLE / 999984.0 AS uu
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |)
        |SELECT lang, CAST(rk AS BIGINT) AS rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ln(uu) / n_chars DESC, doc_id ASC) AS rk
        |  FROM u)
        |WHERE rk <= 5""".stripMargin,

    "q_difftest" ->
      """WITH s AS (
        |  SELECT l_partkey % 100 AS feature, l_returnflag AS g, l_quantity AS v
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N')
        |), a AS (
        |  SELECT feature,
        |    count(CASE WHEN g = 'A' THEN 1 END) AS n_a,
        |    avg(CASE WHEN g = 'A' THEN v END) AS mean_a,
        |    var_samp(CASE WHEN g = 'A' THEN v END) AS var_a,
        |    count(CASE WHEN g = 'N' THEN 1 END) AS n_b,
        |    avg(CASE WHEN g = 'N' THEN v END) AS mean_b,
        |    var_samp(CASE WHEN g = 'N' THEN v END) AS var_b
        |  FROM s GROUP BY 1
        |  HAVING count(CASE WHEN g = 'A' THEN 1 END) >= 2
        |     AND count(CASE WHEN g = 'N' THEN 1 END) >= 2
        |), tc AS (
        |  SELECT feature, n_a, n_b,
        |    (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
        |    pow(var_a / n_a + var_b / n_b, 2)
        |      / (pow(var_a / n_a, 2) / (n_a - 1) + pow(var_b / n_b, 2) / (n_b - 1)) AS df_welch
        |  FROM a
        |), pz AS (
        |  SELECT feature, n_a, n_b, t_stat, df_welch,
        |    1.0 / (1.0 + 0.3275911 * (abs(t_stat) / sqrt(2.0))) AS sf,
        |    abs(t_stat) / sqrt(2.0) AS z
        |  FROM tc WHERE t_stat IS NOT NULL
        |), p AS (
        |  SELECT feature, n_a, n_b, t_stat, df_welch,
        |    sf * (0.254829592 + sf * (-0.284496736 + sf * (1.421413741
        |      + sf * (-1.453152027 + sf * 1.061405429)))) * exp(-z * z) AS p_value
        |  FROM pz
        |)
        |SELECT feature, n_a, n_b,
        |  floor(t_stat * 1000000 + 0.5) / 1000000 AS t_stat,
        |  floor(df_welch * 10000 + 0.5) / 10000 AS df_welch,
        |  floor(p.p_value * 1000000 + 0.5) / 1000000 AS p_value,
        |  ROW_NUMBER() OVER (ORDER BY floor(p.p_value * 1000000 + 0.5) / 1000000 ASC, feature ASC) AS bh_rank
        |FROM p""".stripMargin,

    "q_span_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'prefix sentinel words ' || text FROM documents
        |), t AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks FROM d
        |), g AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 6], ' ') AS gram
        |  FROM t, UNNEST(generate_series(1, len(toks) - 6)) AS u(i)
        |)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id""".stripMargin,

    // closed-form replay of the planted overflow fixture: bucket
    // sizes equal the replication factor r, span buckets per doc =
    // (16 + doc_id%5) - 6, minhash band buckets per doc = 4
    "q_overflow_report" ->
      """WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20),
        |     p AS (SELECT doc_id, 40 + (doc_id % 4) * 10 AS r,
        |                  10 + (doc_id % 5) AS n_spans FROM d)
        |SELECT 'span' AS family, CAST(r AS BIGINT) AS n_members,
        |       CAST(SUM(n_spans) AS BIGINT) AS n_buckets,
        |       CAST(SUM(n_spans) * (r * (r - 1) // 2) AS BIGINT) AS lost_pairs
        |FROM p WHERE r > 50 GROUP BY r
        |UNION ALL
        |SELECT 'minhash' AS family, CAST(r AS BIGINT) AS n_members,
        |       CAST(4 * COUNT(*) AS BIGINT) AS n_buckets,
        |       CAST(4 * COUNT(*) * (r * (r - 1) // 2) AS BIGINT) AS lost_pairs
        |FROM p WHERE r > 50 GROUP BY r""".stripMargin,

    // the oracle is the PLAIN join — bucketing must not change results
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // the portable coin replays the ENTIRE permutation
    "q_shuffle" ->
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER (ORDER BY (o_orderkey * 40503 + 7) % 999983, o_orderkey) - 1 AS pos
        |FROM orders""".stripMargin,

    "q_shards" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, CAST(8 AS BIGINT) AS n_shards
        |FROM lineitem""".stripMargin,

    "q_checkpoint" ->
      """SELECT l_returnflag, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_accessors" ->
      """WITH first100 AS (
        |  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer ORDER BY c_custkey LIMIT 100
        |), dict AS (
        |  SELECT c_mktsegment AS seg, dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS code
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer)
        |)
        |SELECT f.c_custkey, f.c_mktsegment AS segment, CAST(f.c_nationkey AS VARCHAR) AS nation,
        |  f.c_mktsegment AS decoded_labels, CAST(d.code AS BIGINT) AS encoded_labels
        |FROM first100 f JOIN dict d ON f.c_mktsegment = d.seg
        |UNION ALL
        |SELECT -1, 'SYNTH', '99', 'SYNTH', -1""".stripMargin,

    "q_load_pipeline" ->
      """WITH j AS (
        |  SELECT l.l_orderkey AS samples, o.o_orderstatus AS labels, o.o_totalprice,
        |         l.l_linenumber, l.l_quantity
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_orderkey % 7 = 0
        |)
        |SELECT samples, labels,
        |  CAST(dense_rank() OVER (ORDER BY labels) - 1 AS BIGINT) AS encoded_labels,
        |  floor(o_totalprice * 100 + 0.5) / 100 AS o_totalprice,
        |  l_linenumber,
        |  floor(l_quantity * 100 + 0.5) / 100 AS l_quantity
        |FROM j""".stripMargin,

    "q_dataset_io" ->
      """WITH dict AS (
        |  SELECT string_agg(seg, ',' ORDER BY seg) AS d
        |  FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer)
        |)
        |SELECT c_custkey AS samples, c_mktsegment AS labels,
        |  CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS encoded_labels,
        |  floor(c_acctbal * 100 + 0.5) / 100 AS c_acctbal,
        |  CASE WHEN (c_custkey * 40503) % 10000 < 2000 THEN 'test' ELSE 'train' END AS split,
        |  'labels' AS target_role,
        |  (SELECT d FROM dict) AS label_dict,
        |  'Classification' AS task
        |FROM customer""".stripMargin,

    // both stages replayed: md5 survivors, then true-jaccard losers
    // computed OVER THE SURVIVORS (a dup pair among non-survivors
    // must not delete anything)
    "q_dedup_all" ->
      s"""WITH surv AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), sdocs AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN surv s ON d.doc_id = s.doc_id
        |)
        |SELECT doc_id FROM surv
        |WHERE doc_id NOT IN (SELECT id_b FROM (${ngramJaccardPairsSqlFrom("sdocs")}))""".stripMargin,

    "q_infer_roles" ->
      """SELECT * FROM (VALUES
        |  ('sample_column', 'samples'),
        |  ('batch_column', 'batch_id'),
        |  ('target_column', 'labels'),
        |  ('data_column', 'o_totalprice'),
        |  ('task:labels', 'Classification'),
        |  ('task:o_totalprice', 'Regression')
        |) AS t(role, column_name)""".stripMargin,

    "q_feature_meta" ->
      """SELECT 'l_quantity' AS feature, 'n_distinct' AS meta_key, CAST(count(DISTINCT l_quantity) AS VARCHAR) AS meta_value FROM lineitem
        |UNION ALL SELECT 'l_quantity', 'featureType', 'Abundance'
        |UNION ALL SELECT 'l_extendedprice', 'n_distinct', CAST(count(DISTINCT l_extendedprice) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', 'featureType', 'Abundance'
        |UNION ALL SELECT 'l_discount', 'n_distinct', CAST(count(DISTINCT l_discount) AS VARCHAR) FROM lineitem
        |UNION ALL SELECT 'l_discount', 'featureType', 'Abundance'""".stripMargin,

    "q_npz_roundtrip" ->
      """SELECT c_custkey AS "row", CAST(c_nationkey AS BIGINT) AS "col",
        |  floor(c_acctbal * 100 + 0.5) / 100 AS value
        |FROM customer WHERE c_custkey <= 1000""".stripMargin,

    "q_arrow_roundtrip" ->
      """SELECT s_suppkey, s_name, floor(s_acctbal * 100 + 0.5) / 100 AS s_acctbal,
        |  CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE CAST(s_nationkey AS INTEGER) END AS nk,
        |  CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE 'p-' || CAST(s_nationkey AS VARCHAR) END AS ph,
        |  CAST(s_nationkey + 1 AS BIGINT) AS k2, upper(s_name) AS v2,
        |  CAST(2 AS INTEGER) AS n_tags
        |FROM supplier WHERE s_suppkey <= 200""".stripMargin,

    "q_pq_persist" ->
      """SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "q_difftest_k" ->
      """WITH s AS (
        |  SELECT l_partkey % 100 AS feature, l_returnflag AS grp, l_quantity AS v
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R') AND l_quantity IS NOT NULL
        |), r AS (
        |  SELECT feature, grp,
        |    RANK() OVER (PARTITION BY feature ORDER BY v)
        |      + (COUNT(*) OVER (PARTITION BY feature, v) - 1) / 2.0 AS rr
        |  FROM s
        |), pg AS (
        |  SELECT feature, grp, COUNT(*) AS n, SUM(rr) AS R FROM r GROUP BY 1, 2
        |), ties AS (
        |  SELECT feature, CAST(SUM(t*t*t - t) AS DOUBLE) AS tsum
        |  FROM (SELECT feature, v, COUNT(*) AS t FROM s GROUP BY 1, 2) GROUP BY 1
        |), st AS (
        |  SELECT feature, CAST(SUM(n) AS BIGINT) AS n_total, SUM(R*R/n) AS rss
        |  FROM pg GROUP BY 1 HAVING COUNT(*) = 3
        |), hh AS (
        |  SELECT feature, n_total,
        |    (12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0)) * rss
        |      - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
        |    / (1.0 - tsum / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))) AS h
        |  FROM st JOIN ties USING (feature)
        |  WHERE 1.0 - tsum / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)) > 0
        |)
        |SELECT feature, n_total,
        |  floor(h * 1000000 + 0.5) / 1000000 AS h_stat,
        |  floor(exp(-(h / 2.0)) * 1000000 + 0.5) / 1000000 AS p_value,
        |  ROW_NUMBER() OVER (ORDER BY floor(exp(-(h / 2.0)) * 1000000 + 0.5) / 1000000 ASC, feature ASC) AS bh_rank
        |FROM hh""".stripMargin,

    "q_rolling" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events
        |)
        |SELECT event_id, user_id,
        |  count(value) OVER w AS roll_cnt,
        |  floor(sum(value) OVER w * 1000000 + 0.5) / 1000000 AS roll_sum,
        |  floor(sum(value) OVER w / count(value) OVER w * 1000000 + 0.5) / 1000000 AS roll_avg
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_funnel" ->
      """WITH s AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |), u AS (
        |  SELECT DISTINCT user_id FROM s
        |), s0 AS (
        |  SELECT user_id, min(us) AS t0 FROM s WHERE event_type = 'view' GROUP BY 1
        |), s1 AS (
        |  SELECT s.user_id, min(us) AS t1 FROM s
        |  JOIN s0 ON s.user_id = s0.user_id AND s.us > s0.t0
        |  WHERE event_type = 'click' GROUP BY 1
        |), s2 AS (
        |  SELECT s.user_id, min(us) AS t2 FROM s
        |  JOIN s1 ON s.user_id = s1.user_id AND s.us > s1.t1
        |  WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT u.user_id, s0.t0 AS t0_us, s1.t1 AS t1_us, s2.t2 AS t2_us,
        |  (CASE WHEN s0.t0 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s1.t1 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END) AS reached
        |FROM u
        |LEFT JOIN s0 USING (user_id)
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)""".stripMargin,

    // the same correlated-min chain with the 48h deadline bound on
    // every later step (us <= t0 + 172800e6 micros)
    "q_funnel_deadline" ->
      """WITH s AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |), u AS (
        |  SELECT DISTINCT user_id FROM s
        |), s0 AS (
        |  SELECT user_id, min(us) AS t0 FROM s WHERE event_type = 'view' GROUP BY 1
        |), s1 AS (
        |  SELECT s.user_id, min(us) AS t1 FROM s
        |  JOIN s0 ON s.user_id = s0.user_id AND s.us > s0.t0
        |    AND s.us <= s0.t0 + 172800000000
        |  WHERE event_type = 'click' GROUP BY 1
        |), s2 AS (
        |  SELECT s.user_id, min(us) AS t2 FROM s
        |  JOIN s1 ON s.user_id = s1.user_id AND s.us > s1.t1
        |  JOIN s0 ON s.user_id = s0.user_id AND s.us <= s0.t0 + 172800000000
        |  WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT u.user_id, s0.t0 AS t0_us, s1.t1 AS t1_us, s2.t2 AS t2_us,
        |  (CASE WHEN s0.t0 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s1.t1 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END) AS reached
        |FROM u
        |LEFT JOIN s0 USING (user_id)
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)""".stripMargin,

    // KMV 52-bit hash: first 13 hex chars of md5, folded digit by
    // digit — the identical integer arithmetic the Spark side runs
    "q_kmv" ->
      s"""WITH raw AS (
        |  SELECT DISTINCT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h16
        |  FROM events WHERE user_id IS NOT NULL
        |), hh AS (
        |  SELECT DISTINCT g, $Fold13 AS h FROM raw
        |), rk AS (
        |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hh
        |), agg AS (
        |  SELECT g, count(*) AS n_kept, max(h) AS hk FROM rk WHERE rn <= 64 GROUP BY 1
        |)
        |SELECT g AS event_type,
        |  floor((CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |    ELSE 63.0 / (CAST(hk AS DOUBLE) / 4503599627370496.0) END) * 1e6 + 0.5) / 1e6
        |    AS kmv_est,
        |  n_kept
        |FROM agg""".stripMargin,

    "q_kmv_jaccard" ->
      s"""WITH raw AS (
        |  SELECT DISTINCT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h16
        |  FROM events WHERE user_id IS NOT NULL
        |), hh AS (
        |  SELECT DISTINCT g, $Fold13 AS h FROM raw
        |), rk AS (
        |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hh
        |), sk AS (
        |  SELECT g, h FROM rk WHERE rn <= 64
        |), gs AS (
        |  SELECT DISTINCT g FROM sk
        |), pairs AS (
        |  SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g
        |), uni AS (
        |  SELECT p.ga, p.gb, s.h FROM pairs p
        |  JOIN sk s ON s.g = p.ga OR s.g = p.gb GROUP BY 1, 2, 3
        |), mrk AS (
        |  SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM uni
        |), merged AS (
        |  SELECT ga, gb, h FROM mrk WHERE rn <= 64
        |), iin AS (
        |  SELECT m.ga, m.gb, count(*) AS inter FROM merged m
        |  JOIN sk sa ON sa.g = m.ga AND sa.h = m.h
        |  JOIN sk sb ON sb.g = m.gb AND sb.h = m.h
        |  GROUP BY 1, 2
        |), un AS (
        |  SELECT ga, gb, count(*) AS union_kept FROM merged GROUP BY 1, 2
        |)
        |SELECT un.ga AS g_a, un.gb AS g_b,
        |  floor(COALESCE(iin.inter, 0) / CAST(un.union_kept AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS jaccard_est,
        |  un.union_kept
        |FROM un LEFT JOIN iin ON un.ga = iin.ga AND un.gb = iin.gb""".stripMargin,

    // a<b<c triple join enumerates each triangle once on the
    // id-normalized undirected edge set — corner counts match the
    // degree-oriented closure exactly
    "q_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey
        |), t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |)
        |SELECT node, count(*) AS triangles FROM (
        |  SELECT a AS node FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t
        |) GROUP BY 1""".stripMargin,

    // the cap (64) never binds on <=7-item orders, so the oracle is
    // the plain distinct self-join pair set
    "q_cooccur" ->
      """SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |WHERE l1.l_partkey < l2.l_partkey""".stripMargin,

    // symmetrized endpoint-degree pairs, six exact integer sums,
    // the Pearson closed form replayed with the same double casts
    "q_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) GROUP BY 1
        |), wd AS (
        |  SELECT dxn.deg AS dx, dyn.deg AS dy FROM e
        |  JOIN deg dxn ON e.src = dxn.node JOIN deg dyn ON e.dst = dyn.node
        |), sym AS (
        |  SELECT dx, dy FROM wd UNION ALL SELECT dy AS dx, dx AS dy FROM wd
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sx2,
        |    CAST(sum(dy * dy) AS BIGINT) AS sy2
        |  FROM sym
        |)
        |SELECT n_pairs,
        |  CASE WHEN n_pairs > 0
        |    AND CAST(n_pairs AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx > 0
        |    AND CAST(n_pairs AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy > 0
        |  THEN floor((CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (sqrt(CAST(n_pairs AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
        |     * sqrt(CAST(n_pairs AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)) * 1e9 + 0.5) / 1e9
        |  END AS r
        |FROM a""".stripMargin,

    // the q_triangles wedge enumeration + the degree frame, then the
    // Watts–Strogatz ratio with exact-integer numerator/denominator
    "q_clustering" ->
      """WITH e AS (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1
        |), t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |), tc AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |    SELECT a AS node FROM t
        |    UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t) GROUP BY 1
        |)
        |SELECT deg.node, deg.degree, coalesce(tc.triangles, 0) AS triangles,
        |  CASE WHEN deg.degree >= 2 THEN
        |    floor(2.0 * coalesce(tc.triangles, 0)
        |      / CAST(deg.degree * (deg.degree - 1) AS DOUBLE) * 1e9 + 0.5) / 1e9
        |  END AS clustering
        |FROM deg LEFT JOIN tc ON deg.node = tc.node""".stripMargin,

    // distinct basket membership, pair counts via the a.i < b.i
    // self-join (the cap never binds on <=7-item orders), cosine
    // replayed with the same casts
    "q_item_sim" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS g, CAST(l_partkey AS BIGINT) AS i
        |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), cnt AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
        |), co AS (
        |  SELECT a.i AS id_a, b2.i AS id_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM b a JOIN b b2 ON a.g = b2.g AND a.i < b2.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT co.id_a, co.id_b, ca.n AS n_a, cb.n AS n_b, co.n_ab,
        |  floor(CAST(co.n_ab AS DOUBLE) / sqrt(CAST(ca.n AS DOUBLE) * cb.n)
        |    * 1e9 + 0.5) / 1e9 AS cosine
        |FROM co JOIN cnt ca ON co.id_a = ca.i JOIN cnt cb ON co.id_b = cb.i""".stripMargin,

    // two-level Louvain: one node sweep, contraction, two weighted
    // sweeps, map back -- pure integer scores end to end
    "q_louvain" ->
      (LouvainChainSql + "\nSELECT node, community FROM fin"),

    "q_label_prop" ->
      """WITH e0 AS (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey
        |), e2 AS (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0
        |), lp0 AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e2
        |), cn1 AS (
        |  SELECT e2.src, l.label, count(*) AS c FROM e2 JOIN lp0 l ON e2.dst = l.node GROUP BY 1, 2
        |), lp1 AS (
        |  SELECT src AS node, label FROM (
        |    SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM cn1
        |  ) WHERE rn = 1
        |), cn2 AS (
        |  SELECT e2.src, l.label, count(*) AS c FROM e2 JOIN lp1 l ON e2.dst = l.node GROUP BY 1, 2
        |), lp2 AS (
        |  SELECT src AS node, label FROM (
        |    SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM cn2
        |  ) WHERE rn = 1
        |)
        |SELECT node, label FROM lp2""".stripMargin,

    // the two-level Louvain chain, then Newman's terms re-derived
    // from the NODE-level final labels (the Spark side scores the
    // contraction; equality of the exact integers is the check)
    "q_modularity" ->
      (LouvainChainSql + """
        |, ein AS MATERIALIZED (
        |  SELECT la.community AS community, CAST(count(*) AS BIGINT) AS e_in
        |  FROM e0 JOIN fin la ON e0.u = la.node JOIN fin lb ON e0.v = lb.node
        |  WHERE la.community = lb.community GROUP BY 1
        |), dc AS MATERIALIZED (
        |  SELECT f.community, CAST(sum(d.deg) AS BIGINT) AS deg_sum
        |  FROM fin f JOIN deg d ON f.node = d.node GROUP BY 1
        |)
        |SELECT dc.community, coalesce(ein.e_in, 0) AS e_in, dc.deg_sum,
        |  floor((CAST(coalesce(ein.e_in, 0) AS DOUBLE) / m.m
        |    - (CAST(dc.deg_sum AS DOUBLE) / (2.0 * m.m))
        |      * (CAST(dc.deg_sum AS DOUBLE) / (2.0 * m.m))) * 1e9 + 0.5) / 1e9 AS q_contrib
        |FROM dc LEFT JOIN ein ON dc.community = ein.community CROSS JOIN m""".stripMargin),

    // min-hop BFS as a bounded recursive CTE: every (node, level)
    // reach pair within the horizon, min() collapses to first reach
    "q_bfs_hops" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey
        |), e2 AS (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0
        |), s AS (
        |  SELECT DISTINCT l_partkey AS node FROM lineitem WHERE l_partkey < 100
        |), d(node, hops) AS (
        |  SELECT node, 0 FROM s
        |  UNION
        |  SELECT e2.dst, d.hops + 1 FROM d JOIN e2 ON e2.src = d.node WHERE d.hops < 3
        |)
        |SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM d GROUP BY node""".stripMargin,

    // wedge join over the customer co-part graph with the same
    // middle-degree gate; Adamic-Adar replayed term by term
    "q_link_pred" ->
      """WITH co AS (
        |  SELECT DISTINCT l.l_partkey AS g, o.o_custkey AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_partkey < 60
        |), e AS (
        |  SELECT DISTINCT a.c AS u, b.c AS v
        |  FROM co a JOIN co b ON a.g = b.g WHERE a.c < b.c
        |), sym AS (
        |  SELECT u AS a, v AS z FROM e UNION ALL SELECT v, u FROM e
        |), deg AS (
        |  SELECT z, count(*) AS d FROM sym GROUP BY z
        |  HAVING count(*) >= 2 AND count(*) <= 500
        |), sp AS (
        |  SELECT s.z, s.a, deg.d FROM sym s JOIN deg ON s.z = deg.z
        |), wedge AS (
        |  SELECT s1.a AS a, s2.a AS b, s1.d AS d
        |  FROM sp s1 JOIN sp s2 ON s1.z = s2.z WHERE s1.a < s2.a
        |), sc AS (
        |  SELECT a, b, count(*) AS common_neighbors,
        |    floor(sum(1.0 / ln(CAST(d AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS adamic_adar
        |  FROM wedge GROUP BY a, b
        |)
        |SELECT sc.a AS node_a, sc.b AS node_b, sc.common_neighbors, sc.adamic_adar
        |FROM sc LEFT JOIN e ON sc.a = e.u AND sc.b = e.v
        |WHERE e.u IS NULL""".stripMargin,

    // lag-window adjacency + integer-count row normalization
    "q_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events WHERE event_type IS NOT NULL
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2
        |), tt AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1
        |)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor(c.n / CAST(tt.t AS DOUBLE) * 1e9 + 0.5) / 1e9 AS p
        |FROM c JOIN tt USING (from_type)""".stripMargin,

    // per-(type, hour) profile from count/sum/sum2 with the same
    // snap points, each row judged against its bucket's band
    "q_seasonal" ->
      """WITH w0 AS (
        |  SELECT event_id, event_type, value, hour(ts) AS hb FROM events
        |), prof AS (
        |  SELECT event_type, hb, count(*) AS n,
        |    floor(sum(value) / count(*) * 1e9 + 0.5) / 1e9 AS m,
        |    sum(value) AS s1, sum(value * value) AS s2
        |  FROM w0 WHERE value IS NOT NULL GROUP BY 1, 2
        |), prof2 AS (
        |  SELECT event_type, hb, n, m,
        |    floor(sqrt(greatest(s2 / n - m * m, 0.0)) * 1e9 + 0.5) / 1e9 AS sd
        |  FROM prof
        |)
        |SELECT w0.event_id, w0.event_type, p.m AS season_mean, p.sd AS season_std,
        |  CASE WHEN w0.value IS NOT NULL AND p.n >= 5 THEN
        |    CASE WHEN floor(abs(w0.value - p.m) * 1e9 + 0.5) / 1e9 >
        |      floor(2.0 * p.sd * 1e9 + 0.5) / 1e9 THEN 1 ELSE 0 END
        |  END AS is_anomaly
        |FROM w0 JOIN prof2 p ON w0.event_type = p.event_type AND w0.hb = p.hb""".stripMargin,

    // doc-side TF-IDF with the identical weight, per-doc top-3
    "q_keywords" ->
      """WITH f AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents WHERE doc_id < 300
        |), nn AS (
        |  SELECT count(*)::DOUBLE AS n FROM f
        |), tf AS (
        |  SELECT doc_id, term, count(*)::DOUBLE AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM f) GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    floor((1.0 + ln(tf.tf)) * (ln(((SELECT n FROM nn) + 1.0) / (d.df + 1.0)) + 1.0)
        |      * 1000000 + 0.5) / 1000000 AS tfidf
        |  FROM tf JOIN dfq d ON tf.term = d.term
        |), rk AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
        |  FROM sc
        |)
        |SELECT doc_id, term, tfidf, rank FROM rk WHERE rank <= 3""".stripMargin,

    // the q_outliers type-7 quantile machinery at p05/p95 + clip
    "q_winsorize" ->
      """WITH s AS (
        |  SELECT event_id, event_type AS g, value AS v FROM events WHERE value IS NOT NULL
        |), cnt AS (
        |  SELECT g, v, COUNT(*) AS c FROM s GROUP BY 1, 2
        |), st AS (
        |  SELECT g, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM cnt
        |), qlo AS (
        |  SELECT g,
        |    MAX(CASE WHEN cumc - c <= floor((n-1)*0.05) AND floor((n-1)*0.05) < cumc THEN v END) AS vlo,
        |    MAX(CASE WHEN cumc - c <= ceil((n-1)*0.05) AND ceil((n-1)*0.05) < cumc THEN v END) AS vhi,
        |    MAX((n-1)*0.05) AS h
        |  FROM st GROUP BY 1
        |), lo AS (
        |  SELECT g, vlo + (h - floor(h)) * (vhi - vlo) AS q_lo FROM qlo
        |), qhi AS (
        |  SELECT g,
        |    MAX(CASE WHEN cumc - c <= floor((n-1)*0.95) AND floor((n-1)*0.95) < cumc THEN v END) AS vlo,
        |    MAX(CASE WHEN cumc - c <= ceil((n-1)*0.95) AND ceil((n-1)*0.95) < cumc THEN v END) AS vhi,
        |    MAX((n-1)*0.95) AS h
        |  FROM st GROUP BY 1
        |), hi AS (
        |  SELECT g, vlo + (h - floor(h)) * (vhi - vlo) AS q_hi FROM qhi
        |)
        |SELECT s.event_id, s.g AS event_type,
        |  floor(s.v * 1000000 + 0.5) / 1000000 AS value,
        |  floor(lo.q_lo * 1000000 + 0.5) / 1000000 AS q_lo,
        |  floor(hi.q_hi * 1000000 + 0.5) / 1000000 AS q_hi,
        |  floor(least(greatest(s.v, lo.q_lo), hi.q_hi) * 1000000 + 0.5) / 1000000 AS winsorized
        |FROM s JOIN lo ON s.g = lo.g JOIN hi ON s.g = hi.g""".stripMargin,

    // smoothed LOO mean replayed with the identical expression order
    "q_target_encode" ->
      """WITH pr AS (
        |  SELECT floor(avg(value) * 1e9 + 0.5) / 1e9 AS p FROM events WHERE value IS NOT NULL
        |), st AS (
        |  SELECT event_type, count(*) AS cn, sum(value) AS cs
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type,
        |  CASE WHEN e.value IS NOT NULL AND st.cn > 1
        |    THEN floor((st.cs - e.value + 10.0 * pr.p) / (st.cn - 1 + 10.0) * 1e9 + 0.5) / 1e9
        |    ELSE pr.p END AS te
        |FROM events e LEFT JOIN st USING (event_type) CROSS JOIN pr""".stripMargin,

    // first-5 path per user via ordered string_agg, counted, top-20
    "q_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type IS NOT NULL
        |), c AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1
        |)
        |SELECT path, count(*) AS n_keys FROM c GROUP BY 1
        |ORDER BY n_keys DESC, path LIMIT 20""".stripMargin,

    // the q_pagerank unrolled-iteration replay with the restart
    // vector concentrated on the seed suppliers
    "q_ppr" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e
        |), sd AS (
        |  SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node FROM supplier WHERE s_suppkey < 10
        |), ns AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM sd),
        |np AS (SELECT nodes.node,
        |         CASE WHEN sd.node IS NOT NULL
        |           THEN floor((1.0/(SELECT s FROM ns))*1000000000 + 0.5)/1000000000
        |           ELSE 0.0 END AS p
        |       FROM nodes LEFT JOIN sd ON nodes.node = sd.node),
        |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, p, p AS rank FROM np),
        |c1 AS (SELECT e.dst AS cn, sum(r.rank/od.deg) AS contrib
        |       FROM e JOIN od ON e.src = od.src JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |d1 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r0
        |       WHERE node NOT IN (SELECT src FROM e)),
        |r1 AS (SELECT np.node, np.p,
        |         floor((0.15*np.p + 0.85*(coalesce(contrib, 0.0) + dm*np.p))
        |               *1000000000 + 0.5)/1000000000 AS rank
        |       FROM np CROSS JOIN d1 LEFT JOIN c1 ON c1.cn = np.node),
        |c2 AS (SELECT e.dst AS cn, sum(r.rank/od.deg) AS contrib
        |       FROM e JOIN od ON e.src = od.src JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |d2 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r1
        |       WHERE node NOT IN (SELECT src FROM e)),
        |r2 AS (SELECT np.node, np.p,
        |         floor((0.15*np.p + 0.85*(coalesce(contrib, 0.0) + dm*np.p))
        |               *1000000000 + 0.5)/1000000000 AS rank
        |       FROM np CROSS JOIN d2 LEFT JOIN c2 ON c2.cn = np.node),
        |c3 AS (SELECT e.dst AS cn, sum(r.rank/od.deg) AS contrib
        |       FROM e JOIN od ON e.src = od.src JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |d3 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r2
        |       WHERE node NOT IN (SELECT src FROM e)),
        |r3 AS (SELECT np.node, np.p,
        |         floor((0.15*np.p + 0.85*(coalesce(contrib, 0.0) + dm*np.p))
        |               *1000000000 + 0.5)/1000000000 AS rank
        |       FROM np CROSS JOIN d3 LEFT JOIN c3 ON c3.cn = np.node)
        |SELECT node, rank FROM r3 WHERE rank > 0""".stripMargin,

    // the EWMA-style recursive replay with the max(0, .) tabular
    // CUSUM recurrences, state carried through null values
    "q_kcore" -> kCoreOracleSql,

    "q_benford" -> benfordOracleSql,

    // the full pipeline replay: native jaro pairs, recursive
    // transitive closure, min-id cluster label
    // the streamed incremental union-find must land on the exact
    // batch closure: same recursive-CTE replay as q_entity_resolution
    "q_stream_entity" ->
      """WITH RECURSIVE rec AS (
        |  SELECT p_partkey AS id, p_name || ' ' || CAST(p_partkey % 10 AS VARCHAR) AS name
        |  FROM part WHERE p_partkey % 4 = 0 AND p_partkey < 80000
        |), pr AS (
        |  SELECT a.id AS src, b.id AS dst FROM rec a JOIN rec b
        |  ON left(a.name, 2) = left(b.name, 2) AND a.id < b.id
        |  WHERE floor(jaro_winkler_similarity(a.name, b.name) * 1e6 + 0.5) / 1e6 >= 0.95
        |), sym AS (
        |  SELECT src, dst FROM pr UNION SELECT dst, src FROM pr
        |), r AS (
        |  SELECT src AS a, dst AS b FROM sym
        |  UNION
        |  SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
        |), m AS (
        |  SELECT a, min(b) AS mn FROM r GROUP BY 1
        |)
        |SELECT rec.id, rec.name,
        |  COALESCE(least(rec.id, m.mn), rec.id) AS cluster
        |FROM rec LEFT JOIN m ON rec.id = m.a""".stripMargin,

    // identical closed-form waterfill: cap/p order, prefix sums,
    // saturated-prefix test, level t*, min(cap, p*t) takes
    // the q_mix_solve waterfill rates + the q_temp_sample coin
    "q_mix_apply" ->
      """WITH s AS (
        |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS avail,
        |    CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS INT) % 5 AS DOUBLE) AS w
        |  FROM documents GROUP BY 1
        |), b AS (
        |  SELECT source, avail, w / sum(w) OVER () AS p, avail * 0.8 AS cap FROM s
        |), r AS (
        |  SELECT *, cap / p AS ratio,
        |    COALESCE(sum(cap) OVER win, 0) AS preCap,
        |    COALESCE(sum(p) OVER win, 0) AS preP
        |  FROM b WHERE p > 0
        |  WINDOW win AS (ORDER BY cap / p, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), f AS (
        |  SELECT *, CASE WHEN ratio * (1.0 - preP) <= 80000.0 - preCap THEN 1 ELSE 0 END AS sat
        |  FROM r
        |), l AS (
        |  SELECT *, sum(cap * sat) OVER () AS satCap, sum(p * sat) OVER () AS satP FROM f
        |), rates AS (
        |  SELECT source,
        |    floor(CASE WHEN sat = 1 THEN cap
        |          ELSE least(cap, p * (80000.0 - satCap) / (1.0 - satP)) END / avail * 1e6 + 0.5) / 1e6 AS rate
        |  FROM l
        |)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN rates ON d.source IS NOT DISTINCT FROM rates.source
        |WHERE (((((d.doc_id % 999983) + 999983) % 999983) * 480879 % 999983) * 104729 % 999983)::DOUBLE / 999983.0 < rates.rate""".stripMargin,

    "q_mix_solve" ->
      """WITH s AS (
        |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS avail,
        |    CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS INT) % 5 AS DOUBLE) AS w
        |  FROM documents GROUP BY 1
        |), b AS (
        |  SELECT source, avail, w / sum(w) OVER () AS p, avail * 0.8 AS cap FROM s
        |), r AS (
        |  SELECT *, cap / p AS ratio,
        |    COALESCE(sum(cap) OVER win, 0) AS preCap,
        |    COALESCE(sum(p) OVER win, 0) AS preP
        |  FROM b WHERE p > 0
        |  WINDOW win AS (ORDER BY cap / p, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), f AS (
        |  SELECT *, CASE WHEN ratio * (1.0 - preP) <= 80000.0 - preCap THEN 1 ELSE 0 END AS sat
        |  FROM r
        |), l AS (
        |  SELECT *, sum(cap * sat) OVER () AS satCap, sum(p * sat) OVER () AS satP FROM f
        |)
        |SELECT source, avail,
        |  floor(p * 1e6 + 0.5) / 1e6 AS p,
        |  floor(cap * 1e6 + 0.5) / 1e6 AS cap,
        |  floor(CASE WHEN sat = 1 THEN cap
        |        ELSE least(cap, p * (80000.0 - satCap) / (1.0 - satP)) END * 1e6 + 0.5) / 1e6 AS take,
        |  floor(CASE WHEN sat = 1 THEN cap
        |        ELSE least(cap, p * (80000.0 - satCap) / (1.0 - satP)) END / avail * 1e6 + 0.5) / 1e6 AS rate,
        |  sat AS saturated
        |FROM l""".stripMargin,

    "q_mix_solve_max" ->
      """WITH s AS (
        |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS avail,
        |    CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS INT) % 5 AS DOUBLE) AS w
        |  FROM documents GROUP BY 1
        |), b AS (
        |  SELECT source, avail, w / sum(w) OVER () AS p, avail * 0.8 AS cap FROM s
        |), m AS (
        |  SELECT *, min(CASE WHEN p > 0 THEN cap / p END) OVER () AS t FROM b
        |)
        |SELECT source, avail,
        |  floor(p * 1e6 + 0.5) / 1e6 AS p,
        |  floor(cap * 1e6 + 0.5) / 1e6 AS cap,
        |  floor(CASE WHEN p > 0 THEN p * t ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS take,
        |  floor(CASE WHEN avail > 0 THEN p * t / avail ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS rate
        |FROM m""".stripMargin,

    "q_entity_resolution" ->
      """WITH RECURSIVE rec AS (
        |  SELECT p_partkey AS id, p_name || ' ' || CAST(p_partkey % 10 AS VARCHAR) AS name
        |  FROM part WHERE p_partkey % 4 = 0 AND p_partkey < 80000
        |), pr AS (
        |  SELECT a.id AS src, b.id AS dst FROM rec a JOIN rec b
        |  ON left(a.name, 2) = left(b.name, 2) AND a.id < b.id
        |  WHERE floor(jaro_winkler_similarity(a.name, b.name) * 1e6 + 0.5) / 1e6 >= 0.95
        |), sym AS (
        |  SELECT src, dst FROM pr UNION SELECT dst, src FROM pr
        |), r AS (
        |  SELECT src AS a, dst AS b FROM sym
        |  UNION
        |  SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
        |), m AS (
        |  SELECT a, min(b) AS mn FROM r GROUP BY 1
        |)
        |SELECT rec.id, rec.name,
        |  COALESCE(least(rec.id, m.mn), rec.id) AS cluster,
        |  CASE WHEN COALESCE(least(rec.id, m.mn), rec.id) = rec.id THEN 1 ELSE 0 END AS is_canonical
        |FROM rec LEFT JOIN m ON rec.id = m.a""".stripMargin,

    // exact integer-cents prefix sums (segment-tree reassociation
    // cannot perturb integer adds), the identical fixed-order gain
    // expression per candidate, arg-max ties to the smallest split
    "q_changepoint" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL
        |), w AS (
        |  SELECT user_id, ts, c,
        |    row_number() OVER win AS rn, sum(c) OVER win AS s, sum(c * c) OVER win AS q
        |  FROM v WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |), t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS st,
        |    CAST(sum(c * c) AS BIGINT) AS qt
        |  FROM v GROUP BY 1
        |), g AS (
        |  SELECT w.user_id, t.n, w.rn, w.ts, w.s, t.st,
        |    floor(((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
        |      - ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(rn AS DOUBLE))
        |        + (CAST(qt - q AS DOUBLE) - CAST(st - s AS DOUBLE) * CAST(st - s AS DOUBLE) / CAST(n - rn AS DOUBLE)))) * 1e6 + 0.5) / 1e6 AS gain
        |  FROM w JOIN t ON w.user_id = t.user_id
        |  WHERE w.rn >= 5 AND t.n - w.rn >= 5
        |)
        |SELECT user_id, n, rn AS split_pos, ts AS split_ts, gain,
        |  floor(CAST(s AS DOUBLE) / (rn * 100) * 1e6 + 0.5) / 1e6 AS mean_left,
        |  floor(CAST(st - s AS DOUBLE) / ((n - rn) * 100) * 1e6 + 0.5) / 1e6 AS mean_right
        |FROM g QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY gain DESC, rn) = 1""".stripMargin,

    // DuckDB's native jaro_winkler_similarity IS the reference the
    // kernel is pinned to (byte-level, 0.7 boost threshold, prefix
    // cap 4); both sides snap to 1e-6 before the threshold
    "q_jaro_join" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name AS name_a FROM part
        |), v AS (
        |  SELECT p_partkey, p_name || ' ' || CAST(p_partkey % 10 AS VARCHAR) AS name_b FROM part
        |)
        |SELECT name_a, p_partkey, name_b,
        |  floor(jaro_winkler_similarity(name_a, name_b) * 1e6 + 0.5) / 1e6 AS jw_sim
        |FROM names JOIN v ON left(name_a, 2) = left(name_b, 2)
        |WHERE floor(jaro_winkler_similarity(name_a, name_b) * 1e6 + 0.5) / 1e6 >= 0.9""".stripMargin,

    // block-cap exclusion recomputed in SQL: blocks with > 1000 rows
    // on EITHER side drop wholesale before the prefix join
    "q_jaro_capped" ->
      """WITH lft AS (
        |  SELECT DISTINCT p_name AS name_a FROM part WHERE p_partkey <= 2000
        |  UNION ALL
        |  SELECT 'cu hot ' || o_orderkey FROM orders WHERE o_orderkey <= 1300
        |), rgt AS (
        |  SELECT p_name || ' ' || CAST(p_partkey % 10 AS VARCHAR) AS name_b FROM part WHERE p_partkey <= 2000
        |  UNION ALL
        |  SELECT 'cu hot ' || o_orderkey || ' x' FROM orders WHERE o_orderkey <= 1300
        |), big AS (
        |  SELECT left(name_a, 2) AS blk FROM lft GROUP BY 1 HAVING count(*) > 1000
        |  UNION
        |  SELECT left(name_b, 2) AS blk FROM rgt GROUP BY 1 HAVING count(*) > 1000
        |)
        |SELECT name_a, name_b,
        |  floor(jaro_winkler_similarity(name_a, name_b) * 1e6 + 0.5) / 1e6 AS jw_sim
        |FROM lft JOIN rgt ON left(name_a, 2) = left(name_b, 2)
        |WHERE left(name_a, 2) NOT IN (SELECT blk FROM big)
        |  AND floor(jaro_winkler_similarity(name_a, name_b) * 1e6 + 0.5) / 1e6 >= 0.9""".stripMargin,

    "q_jaro_overflow" ->
      """WITH lft AS (
        |  SELECT DISTINCT p_name AS name_a FROM part WHERE p_partkey <= 2000
        |  UNION ALL
        |  SELECT 'cu hot ' || o_orderkey FROM orders WHERE o_orderkey <= 1300
        |), rgt AS (
        |  SELECT p_name || ' ' || CAST(p_partkey % 10 AS VARCHAR) AS name_b FROM part WHERE p_partkey <= 2000
        |  UNION ALL
        |  SELECT 'cu hot ' || o_orderkey || ' x' FROM orders WHERE o_orderkey <= 1300
        |), ln AS (
        |  SELECT left(name_a, 2) AS block, count(*) AS n_left FROM lft GROUP BY 1
        |), rn AS (
        |  SELECT left(name_b, 2) AS block, count(*) AS n_right FROM rgt GROUP BY 1
        |)
        |SELECT COALESCE(ln.block, rn.block) AS block,
        |  COALESCE(n_left, 0) AS n_left, COALESCE(n_right, 0) AS n_right,
        |  COALESCE(n_left, 0) * COALESCE(n_right, 0) AS n_lost_pairs
        |FROM ln FULL OUTER JOIN rn ON ln.block = rn.block
        |WHERE COALESCE(n_left, 0) > 1000 OR COALESCE(n_right, 0) > 1000""".stripMargin,

    // native ASOF LEFT JOIN plus the staleness gate on the matched
    // right time (rt >= ts - tol ⟺ ts - rt <= tol, exact in µs)
    "q_asof_tolerance" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts AS pts, max(value) AS matched_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), j AS (
        |  SELECT c.event_id, c.user_id, c.ts, p.pts, p.matched_value
        |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.pts
        |)
        |SELECT event_id, user_id,
        |  CASE WHEN pts >= ts - INTERVAL 30 MINUTE THEN matched_value END AS matched_value
        |FROM j""".stripMargin,

    "q_cusum" -> cusumOracleSql,

    // the streamed run replays the identical recursive fixed point
    // (the streaming processor is bit-identical to the batch scan)
    "q_stream_cusum" -> cusumOracleSql,

    // rank-sum AUC with exact tie averaging: 2·Σranks⁺ stays in
    // integers (np·(2·cumBefore + n + 1) per tied block), one
    // snapped ratio at the end
    "q_auc" ->
      """WITH base AS (
        |  SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en, n_chars
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), blocks AS (
        |  SELECT source, n_chars AS s, count(*) AS n, sum(is_en) AS np
        |  FROM base GROUP BY 1, 2
        |), ranked AS (
        |  SELECT source, n, np,
        |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM blocks
        |), agg AS (
        |  SELECT source, sum(np * (2 * cum + n + 1)) AS r2,
        |    CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(n - np) AS BIGINT) AS n_neg
        |  FROM ranked GROUP BY 1
        |)
        |SELECT source, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    floor(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * n_pos * n_neg) * 1e9 + 0.5) / 1e9
        |  END AS auc
        |FROM agg""".stripMargin,

    // confusion counts at the threshold; ratios snapped at 1e-9,
    // f1 from the SNAPPED precision/recall, degenerate → NULL
    "q_eval_metrics" ->
      """WITH base AS (
        |  SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l,
        |    CASE WHEN n_chars >= 306 THEN 1 ELSE 0 END AS p
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), a AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN l = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN l = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN l = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(sum(CASE WHEN l = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM base GROUP BY 1
        |), m AS (
        |  SELECT source, tp, fp, tn, fn,
        |    floor((tp + tn) / CAST(tp + fp + tn + fn AS DOUBLE) * 1e9 + 0.5) / 1e9 AS accuracy,
        |    CASE WHEN tp + fp > 0 THEN floor(tp / CAST(tp + fp AS DOUBLE) * 1e9 + 0.5) / 1e9 END AS "precision",
        |    CASE WHEN tp + fn > 0 THEN floor(tp / CAST(tp + fn AS DOUBLE) * 1e9 + 0.5) / 1e9 END AS recall
        |  FROM a
        |)
        |SELECT source, tp, fp, tn, fn, accuracy, "precision", recall,
        |  CASE WHEN "precision" IS NOT NULL AND recall IS NOT NULL AND "precision" + recall > 0
        |    THEN floor(2.0 * "precision" * recall / ("precision" + recall) * 1e9 + 0.5) / 1e9
        |  END AS f1
        |FROM m""".stripMargin,

    // the X1 stopword vote replayed per doc, then kappa from the
    // integer contingency: p_o and p_e snapped, kappa from the
    // snapped terms
    "q_kappa" ->
      """WITH f AS (
        |  SELECT lang, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks FROM documents
        |), v AS (
        |  SELECT lang,
        |    len([x FOR x IN toks IF list_contains(['der','die','und','in','den','von','zu','das','mit','sich','des','auf','für','ist','im'], x)]) AS de,
        |    len([x FOR x IN toks IF list_contains(['the','of','and','to','in','is','that','it','for','with','as','was','on','are','this'], x)]) AS en,
        |    len([x FOR x IN toks IF list_contains(['el','la','de','que','y','en','los','del','se','las','por','un','con','una','es'], x)]) AS es,
        |    len([x FOR x IN toks IF list_contains(['le','la','de','et','les','des','en','un','du','une','que','est','pour','qui','dans'], x)]) AS fr
        |  FROM f
        |), p AS (
        |  SELECT lang, CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |    WHEN de = greatest(de, en, es, fr) THEN 'de'
        |    WHEN en = greatest(de, en, es, fr) THEN 'en'
        |    WHEN es = greatest(de, en, es, fr) THEN 'es'
        |    ELSE 'fr' END AS lang_pred
        |  FROM v WHERE lang IS NOT NULL
        |), c AS (
        |  SELECT lang AS a, lang_pred AS b, count(*) AS n FROM p GROUP BY 1, 2
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
        |ra AS (SELECT a, sum(n) AS ra FROM c GROUP BY 1),
        |cb AS (SELECT b, sum(n) AS cb FROM c GROUP BY 1),
        |e AS (SELECT CAST(coalesce(sum(ra.ra * cb.cb), 0) AS BIGINT) AS e
        |  FROM ra JOIN cb ON ra.a = cb.b),
        |d AS (SELECT CAST(coalesce(sum(CASE WHEN a = b THEN n END), 0) AS BIGINT) AS d FROM c),
        |k AS (
        |  SELECT t AS n,
        |    floor(d / CAST(t AS DOUBLE) * 1e9 + 0.5) / 1e9 AS p_o,
        |    floor(e / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS p_e
        |  FROM tot, d, e
        |)
        |SELECT n, p_o, p_e,
        |  CASE WHEN p_e < 1.0 THEN floor((p_o - p_e) / (1.0 - p_e) * 1e9 + 0.5) / 1e9 END AS kappa
        |FROM k""".stripMargin,

    // prefix-hash clusters + the portable multiplicative coin on the
    // cluster's min doc_id — the split is a pure function of content
    "q_leak_split" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5(substr(text, 1, 30)) AS k FROM documents
        |), cl AS (
        |  SELECT doc_id,
        |    CASE WHEN count(*) OVER (PARTITION BY k) > 1
        |      THEN min(doc_id) OVER (PARTITION BY k) ELSE doc_id END AS split_key
        |  FROM keyed
        |)
        |SELECT doc_id, split_key,
        |  CASE WHEN (split_key * 40503) % 10000 < 3000 THEN 'test' ELSE 'train' END AS split
        |FROM cl""".stripMargin,

    // shift-and-sum OLS replayed with identical snap points; slope
    // and r² are shift-invariant, intercept mapped back through x0
    "q_trend" ->
      """WITH base AS (
        |  SELECT event_type, epoch_us(ts) / 86400000000.0 AS x, value AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |), o AS (
        |  SELECT event_type, min(x) AS x0 FROM base GROUP BY 1
        |), s AS (
        |  SELECT b.event_type, o.x0, CAST(count(*) AS BIGINT) AS n,
        |    floor(avg(b.x - o.x0) * 1e9 + 0.5) / 1e9 AS mx,
        |    floor(avg(b.y) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg((b.x - o.x0) * (b.x - o.x0)) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(b.y * b.y) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg((b.x - o.x0) * b.y) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM base b JOIN o ON b.event_type = o.event_type GROUP BY 1, 2
        |), d AS (
        |  SELECT event_type, x0, n, mx, my,
        |    floor((mxy - mx * my) * 1e9 + 0.5) / 1e9 AS cov,
        |    floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 AS vx,
        |    floor((myy - my * my) * 1e9 + 0.5) / 1e9 AS vy
        |  FROM s
        |), e AS (
        |  SELECT event_type, x0, n, mx, my, cov, vx, vy,
        |    CASE WHEN vx > 0 THEN floor(cov / vx * 1e9 + 0.5) / 1e9 END AS slope
        |  FROM d
        |)
        |SELECT event_type, n, slope,
        |  CASE WHEN vx > 0 THEN
        |    floor((floor((my - slope * mx) * 1e9 + 0.5) / 1e9 - slope * x0) * 1e9 + 0.5) / 1e9
        |  END AS intercept,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    floor(cov * cov / (vx * vy) * 1e9 + 0.5) / 1e9
        |  END AS r2
        |FROM e""".stripMargin,

    // identical tokenization + top-500 rank frame, then the same
    // shift-and-MEAN trend chain as q_trend on the ln-ln points
    "q_zipf" ->
      """WITH f AS (
        |  SELECT source,
        |    unnest([x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> '']) AS term
        |  FROM documents
        |), tcnt AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2
        |), rk AS (
        |  SELECT source, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rn
        |  FROM tcnt QUALIFY rn <= 500
        |), base AS (
        |  SELECT source, ln(CAST(rn AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM rk
        |), o AS (
        |  SELECT source, min(x) AS x0 FROM base GROUP BY 1
        |), s AS (
        |  SELECT b.source, o.x0, CAST(count(*) AS BIGINT) AS n,
        |    floor(avg(b.x - o.x0) * 1e9 + 0.5) / 1e9 AS mx,
        |    floor(avg(b.y) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg((b.x - o.x0) * (b.x - o.x0)) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(b.y * b.y) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg((b.x - o.x0) * b.y) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM base b JOIN o ON b.source = o.source GROUP BY 1, 2
        |), d AS (
        |  SELECT source, x0, n, mx, my,
        |    floor((mxy - mx * my) * 1e9 + 0.5) / 1e9 AS cov,
        |    floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 AS vx,
        |    floor((myy - my * my) * 1e9 + 0.5) / 1e9 AS vy
        |  FROM s
        |), e AS (
        |  SELECT source, x0, n, mx, my, cov, vx, vy,
        |    CASE WHEN vx > 0 THEN floor(cov / vx * 1e9 + 0.5) / 1e9 END AS slope
        |  FROM d
        |)
        |SELECT source, n, slope,
        |  CASE WHEN vx > 0 THEN
        |    floor((floor((my - slope * mx) * 1e9 + 0.5) / 1e9 - slope * x0) * 1e9 + 0.5) / 1e9
        |  END AS intercept,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    floor(cov * cov / (vx * vy) * 1e9 + 0.5) / 1e9
        |  END AS r2
        |FROM e""".stripMargin,

    // power sums → snapped raw moments → central moments → shape
    // stats, every stage on the 1e-9 grid
    "q_moments" ->
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    floor(avg(value / 32.0) * 1e9 + 0.5) / 1e9 AS g1,
        |    floor(avg((value / 32.0) * (value / 32.0)) * 1e9 + 0.5) / 1e9 AS g2,
        |    floor(avg((value / 32.0) * (value / 32.0) * (value / 32.0)) * 1e9 + 0.5) / 1e9 AS g3,
        |    floor(avg((value / 32.0) * (value / 32.0) * (value / 32.0) * (value / 32.0)) * 1e9 + 0.5) / 1e9 AS g4
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT event_type, n, g1, g2,
        |    floor((g2 - g1 * g1) * 1e9 + 0.5) / 1e9 AS c2,
        |    floor((g3 - 3.0 * g1 * g2 + 2.0 * g1 * g1 * g1) * 1e9 + 0.5) / 1e9 AS c3,
        |    floor((g4 - 4.0 * g1 * g3 + 6.0 * g1 * g1 * g2 - 3.0 * g1 * g1 * g1 * g1) * 1e9 + 0.5) / 1e9 AS c4
        |  FROM s
        |), sh AS (
        |  SELECT event_type, n, g1, c2,
        |    CASE WHEN n >= 2 AND c2 > 0 THEN floor(c3 / sqrt(c2 * c2 * c2) * 1e9 + 0.5) / 1e9 END AS sk,
        |    CASE WHEN n >= 2 AND c2 > 0 THEN floor((c4 / (c2 * c2) - 3.0) * 1e9 + 0.5) / 1e9 END AS ku
        |  FROM c
        |)
        |SELECT event_type, n,
        |  floor(g1 * 32.0 * 1e9 + 0.5) / 1e9 AS mean,
        |  floor(c2 * 1024.0 * 1e9 + 0.5) / 1e9 AS variance,
        |  sk AS skewness, ku AS kurtosis,
        |  CASE WHEN sk IS NOT NULL THEN
        |    floor(n / 6.0 * (sk * sk + ku * ku / 4.0) * 1e9 + 0.5) / 1e9
        |  END AS jarque_bera
        |FROM sh""".stripMargin,

    // one SELECT per profiled column; integer/string columns render
    // identically across engines
    "q_profile" ->
      """SELECT 'o_orderkey' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT o_custkey) AS BIGINT),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |  CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders""".stripMargin,

    // regexp counts + the Flesch closed form with identical literal
    // arithmetic
    "q_readability" ->
      """WITH d AS (
        |  SELECT doc_id, text || '. The end. Quite so!' AS text FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[.!?]+')) AS s,
        |    len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
        |  FROM d
        |)
        |SELECT doc_id, CAST(s AS INTEGER) AS n_sentences,
        |  CAST(w AS INTEGER) AS n_words, CAST(sy AS INTEGER) AS n_syllables,
        |  CASE WHEN s > 0 AND w > 0 THEN
        |    floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |      - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))) * 1e9 + 0.5) / 1e9
        |  END AS flesch
        |FROM c""".stripMargin,

    // exact integer-µs duration sums; twap = weighted sum over the
    // exact long denominator, snapped then 1e-6 rounded
    "q_twap" ->
      """WITH g AS (
        |  SELECT user_id, value, epoch_us(ts) AS us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |), d AS (
        |  SELECT user_id, value, nxt - us AS dur_us FROM g WHERE nxt IS NOT NULL
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |    CAST(sum(dur_us) AS BIGINT) AS sus,
        |    sum(value * CAST(dur_us AS DOUBLE)) AS wsum
        |  FROM d GROUP BY 1
        |)
        |SELECT user_id, n_intervals,
        |  floor(floor(CAST(sus AS DOUBLE) / 1000000.0 * 1e9 + 0.5) / 1e9 * 1000000 + 0.5) / 1000000 AS span_s,
        |  floor(floor(wsum / CAST(sus AS DOUBLE) * 1e9 + 0.5) / 1e9 * 1000000 + 0.5) / 1000000 AS twap
        |FROM a""".stripMargin,

    // gaps-and-islands: island id = rn - rn_within_state, then
    // per-island bounds
    "q_state_runs" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island
        |  FROM events WHERE event_type IS NOT NULL
        |)
        |SELECT user_id, event_type AS state,
        |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |  CAST(count(*) AS BIGINT) AS run_len
        |FROM r GROUP BY user_id, event_type, island""".stripMargin,

    // hourly count series at integer-division buckets, Pearson per
    // lag with the identical snapped-means formulation
    "q_lagged_corr" ->
      """WITH b AS (
        |  SELECT event_type AS t, (epoch_us(ts) // 1000000) // 3600 AS bk,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events WHERE ts IS NOT NULL AND event_type IN ('click', 'error')
        |  GROUP BY 1, 2
        |), lags AS (SELECT unnest(range(0, 7)) AS lag),
        |p AS (
        |  SELECT l.lag, a.c AS x, e.c AS y
        |  FROM b a CROSS JOIN lags l
        |  JOIN b e ON e.t = 'error' AND e.bk = a.bk + l.lag
        |  WHERE a.t = 'click'
        |), s AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_buckets,
        |    floor(avg(x) * 1e9 + 0.5) / 1e9 AS mx,
        |    floor(avg(y) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg(x * x) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(y * y) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg(x * y) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM p GROUP BY 1
        |), d AS (
        |  SELECT lag, n_buckets,
        |    floor((mxy - mx * my) * 1e9 + 0.5) / 1e9 AS cov,
        |    floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 AS vx,
        |    floor((myy - my * my) * 1e9 + 0.5) / 1e9 AS vy
        |  FROM s
        |)
        |SELECT CAST(lag AS INTEGER) AS lag, n_buckets,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    floor(cov / sqrt(vx * vy) * 1e9 + 0.5) / 1e9
        |  END AS corr
        |FROM d""".stripMargin,

    // lag gaps per user, grouped stats + the winsorize-style exact
    // type-7 median replay over the distinct-gap frame
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS DOUBLE) / 1000000.0 AS gap_s
        |  FROM events WHERE ts IS NOT NULL
        |), gg AS (
        |  SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL
        |), basic AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    floor(floor(avg(gap_s) * 1e9 + 0.5) / 1e9 * 1000000 + 0.5) / 1000000 AS mean_gap_s,
        |    floor(min(gap_s) * 1000000 + 0.5) / 1000000 AS min_gap_s,
        |    floor(max(gap_s) * 1000000 + 0.5) / 1000000 AS max_gap_s
        |  FROM gg GROUP BY 1
        |), cnt AS (
        |  SELECT event_type AS g, gap_s AS v, count(*) AS c FROM gg GROUP BY 1, 2
        |), st AS (
        |  SELECT g, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM cnt
        |), qm AS (
        |  SELECT g,
        |    MAX(CASE WHEN cumc - c <= floor((n-1)*0.5) AND floor((n-1)*0.5) < cumc THEN v END) AS vlo,
        |    MAX(CASE WHEN cumc - c <= ceil((n-1)*0.5) AND ceil((n-1)*0.5) < cumc THEN v END) AS vhi,
        |    MAX((n-1)*0.5) AS h
        |  FROM st GROUP BY 1
        |), med AS (
        |  SELECT g, floor((vlo + (h - floor(h)) * (vhi - vlo)) * 1000000 + 0.5) / 1000000 AS p50_gap_s
        |  FROM qm
        |)
        |SELECT b.event_type, b.n_gaps, b.mean_gap_s, b.min_gap_s, b.max_gap_s, m.p50_gap_s
        |FROM basic b JOIN med m ON b.event_type = m.g""".stripMargin,

    // cents-exact monetary, integer recency/frequency, exact
    // quantile_cont thresholds (same interpolation as Spark's
    // percentile), threshold scores and the (r,f) CASE replayed
    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    datediff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-12-31') AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1
        |), thr AS (
        |  SELECT
        |    quantile_cont(recency_days, 0.2) AS r0, quantile_cont(recency_days, 0.4) AS r1,
        |    quantile_cont(recency_days, 0.6) AS r2, quantile_cont(recency_days, 0.8) AS r3,
        |    quantile_cont(frequency, 0.2) AS f0, quantile_cont(frequency, 0.4) AS f1,
        |    quantile_cont(frequency, 0.6) AS f2, quantile_cont(frequency, 0.8) AS f3,
        |    quantile_cont(cents, 0.2) AS m0, quantile_cont(cents, 0.4) AS m1,
        |    quantile_cont(cents, 0.6) AS m2, quantile_cont(cents, 0.8) AS m3
        |  FROM base
        |), s AS (
        |  SELECT b.o_custkey, b.recency_days, b.frequency, b.cents,
        |    5 - (CASE WHEN recency_days > r0 THEN 1 ELSE 0 END + CASE WHEN recency_days > r1 THEN 1 ELSE 0 END
        |       + CASE WHEN recency_days > r2 THEN 1 ELSE 0 END + CASE WHEN recency_days > r3 THEN 1 ELSE 0 END) AS r_score,
        |    1 + (CASE WHEN frequency > f0 THEN 1 ELSE 0 END + CASE WHEN frequency > f1 THEN 1 ELSE 0 END
        |       + CASE WHEN frequency > f2 THEN 1 ELSE 0 END + CASE WHEN frequency > f3 THEN 1 ELSE 0 END) AS f_score,
        |    1 + (CASE WHEN cents > m0 THEN 1 ELSE 0 END + CASE WHEN cents > m1 THEN 1 ELSE 0 END
        |       + CASE WHEN cents > m2 THEN 1 ELSE 0 END + CASE WHEN cents > m3 THEN 1 ELSE 0 END) AS m_score
        |  FROM base b, thr
        |)
        |SELECT o_custkey, recency_days, frequency, cents / 100.0 AS monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |       WHEN f_score >= 4 THEN 'loyal'
        |       WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
        |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |       WHEN r_score <= 2 THEN 'hibernating'
        |       ELSE 'regular' END AS segment
        |FROM s""".stripMargin,

    // the brute-force all-pairs ground truth with the identical
    // coordinate derivation and dist² evaluation order
    "q_radius_join" -> radiusJoinOracleSql,

    // the streamed run joins the identical frames (stateless
    // stream-static cell equi-join) — same ground truth
    "q_stream_radius_join" -> radiusJoinOracleSql,

    // full G² replay: bigram-position marginals from the unfiltered
    // bigram table, four guarded k·ln(kN/(r·c)) terms in the same
    // evaluation order, snapped once
    "q_llr_collocations" ->
      """WITH f AS (
        |  SELECT [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents
        |), b0 AS (
        |  SELECT toks, unnest(range(1, len(toks))) AS i FROM f WHERE len(toks) >= 2
        |), bi AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2, CAST(count(*) AS BIGINT) AS n_pair
        |  FROM b0 GROUP BY 1, 2
        |), lm AS (
        |  SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c1 FROM bi GROUP BY 1
        |), rm AS (
        |  SELECT w2, CAST(sum(n_pair) AS BIGINT) AS c2 FROM bi GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n_pair) AS BIGINT) AS nb FROM bi
        |)
        |SELECT b.w1, b.w2, b.n_pair,
        |  floor(2.0 * (
        |    CASE WHEN b.n_pair > 0 THEN CAST(b.n_pair AS DOUBLE)
        |      * ln(CAST(b.n_pair AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) ELSE 0.0 END
        |  + CASE WHEN c1 - b.n_pair > 0 THEN CAST(c1 - b.n_pair AS DOUBLE)
        |      * ln(CAST(c1 - b.n_pair AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(nb - c2 AS DOUBLE))) ELSE 0.0 END
        |  + CASE WHEN c2 - b.n_pair > 0 THEN CAST(c2 - b.n_pair AS DOUBLE)
        |      * ln(CAST(c2 - b.n_pair AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(nb - c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) ELSE 0.0 END
        |  + CASE WHEN nb - c1 - c2 + b.n_pair > 0 THEN CAST(nb - c1 - c2 + b.n_pair AS DOUBLE)
        |      * ln(CAST(nb - c1 - c2 + b.n_pair AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(nb - c1 AS DOUBLE) * CAST(nb - c2 AS DOUBLE))) ELSE 0.0 END
        |  ) * 1e9 + 0.5) / 1e9 AS llr
        |FROM bi b JOIN lm ON b.w1 = lm.w1 JOIN rm ON b.w2 = rm.w2 CROSS JOIN tot
        |WHERE b.n_pair >= 5
        |ORDER BY llr DESC, b.w1, b.w2 LIMIT 50""".stripMargin,

    // the same hash-grid score, fixed-width binning, integer
    // pos-rate ratio and the snapped mean replayed
    "q_calibration" ->
      """WITH d AS (
        |  SELECT source, ((doc_id * 2654435761) % 1000) / 1000.0 AS score,
        |    CASE WHEN lang IS NULL THEN NULL WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        |  FROM documents
        |), b AS (
        |  SELECT source, CAST(least(greatest(floor(score * 10), 0), 9) AS INTEGER) AS bin, score, is_en
        |  FROM d WHERE score IS NOT NULL AND is_en IS NOT NULL
        |), a AS (
        |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(is_en) AS BIGINT) AS n_pos,
        |    floor(avg(score) * 1e9 + 0.5) / 1e9 AS mean_score
        |  FROM b GROUP BY 1, 2
        |)
        |SELECT source, bin, CAST(bin AS DOUBLE) / 10 AS bin_lo,
        |  CAST(bin + 1 AS DOUBLE) / 10 AS bin_hi, n, n_pos, mean_score,
        |  floor(CAST(n_pos AS DOUBLE) / n * 1e9 + 0.5) / 1e9 AS pos_rate,
        |  floor((mean_score - floor(CAST(n_pos AS DOUBLE) / n * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9 AS gap
        |FROM a""".stripMargin,

    // four exact counters per cohort, then the pooled z and the A&S
    // erfc chain replayed term-for-term (sqrt/exp correctly rounded
    // in both engines), every emitted ratio on the 1e-9 grid
    "q_ab_test" ->
      """WITH subj AS (
        |  SELECT strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS cohort_week,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        |), a AS (
        |  SELECT cohort_week,
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS x_b
        |  FROM subj GROUP BY 1
        |), r AS (
        |  SELECT *,
        |    CASE WHEN n_a > 0 THEN floor(CAST(x_a AS DOUBLE) / n_a * 1e9 + 0.5) / 1e9 END AS p_a,
        |    CASE WHEN n_b > 0 THEN floor(CAST(x_b AS DOUBLE) / n_b * 1e9 + 0.5) / 1e9 END AS p_b,
        |    floor(CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) * 1e9 + 0.5) / 1e9 AS pool
        |  FROM a
        |), zc AS (
        |  SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1 THEN
        |      floor((p_b - p_a) / sqrt(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b))
        |        * 1e9 + 0.5) / 1e9
        |    END AS z
        |  FROM r
        |), pv AS (
        |  SELECT *, abs(z) / sqrt(2.0) AS zz,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS sf
        |  FROM zc
        |)
        |SELECT cohort_week, n_a, x_a, n_b, x_b, p_a, p_b,
        |  floor((p_b - p_a) * 1e9 + 0.5) / 1e9 AS lift, z,
        |  floor((sf * (0.254829592 + sf * (-0.284496736 + sf * (1.421413741
        |    + sf * (-1.453152027 + sf * 1.061405429)))) * exp(-zz * zz)) * 1e9 + 0.5) / 1e9
        |    AS p_value
        |FROM pv""".stripMargin,

    // two row_number orders (given + ideal), per-term ln discounts
    // against the plan-time ln 2 literal, sums snapped before the
    // final ratio
    "q_ndcg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, -value AS neg_value,
        |    CASE WHEN event_type = 'purchase' THEN 3.0
        |         WHEN event_type = 'signup' THEN 2.0
        |         WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS rel
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY neg_value, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id ORDER BY rel DESC, neg_value, event_id) AS irn
        |  FROM e
        |), tm AS (
        |  SELECT user_id,
        |    CASE WHEN rn <= 10 THEN
        |      rel / (ln(CAST(rn AS DOUBLE) + 1.0) / 0.6931471805599453) ELSE 0.0 END AS t,
        |    CASE WHEN irn <= 10 THEN
        |      rel / (ln(CAST(irn AS DOUBLE) + 1.0) / 0.6931471805599453) ELSE 0.0 END AS it
        |  FROM r
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_items,
        |    floor(sum(t) * 1e9 + 0.5) / 1e9 AS dcg,
        |    floor(sum(it) * 1e9 + 0.5) / 1e9 AS idcg
        |  FROM tm GROUP BY 1
        |)
        |SELECT user_id, n_items, dcg, idcg,
        |  CASE WHEN idcg > 0 THEN floor(dcg / idcg * 1e9 + 0.5) / 1e9 END AS ndcg
        |FROM a""".stripMargin,

    // one rank window, four exact counters, every metric an
    // integer-count ratio on the 1e-9 grid
    "q_rank_metrics" ->
      """WITH e AS (
        |  SELECT user_id, event_id, -value AS neg_value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY neg_value, event_id) AS rn
        |  FROM e
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(rel) AS BIGINT) AS n_rel,
        |    CAST(sum(CASE WHEN rel <> 0 AND rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
        |    min(CASE WHEN rel <> 0 THEN rn END) AS fr
        |  FROM r GROUP BY 1
        |)
        |SELECT user_id, n_items, n_rel, hits_at_k,
        |  floor(CAST(hits_at_k AS DOUBLE) / 10.0 * 1e9 + 0.5) / 1e9 AS precision_at_k,
        |  CASE WHEN n_rel > 0 THEN
        |    floor(CAST(hits_at_k AS DOUBLE) / n_rel * 1e9 + 0.5) / 1e9 END AS recall_at_k,
        |  CASE WHEN hits_at_k > 0 THEN 1 ELSE 0 END AS hit_at_k,
        |  CASE WHEN n_rel > 0 THEN floor(1.0 / fr * 1e9 + 0.5) / 1e9 END AS mrr
        |FROM a""".stripMargin,

    // one term-count shuffle, exact token/type/hapax longs, snapped
    // ratios — identical tokenization to q_zipf/q_tfidf
    "q_lexdiv" ->
      """WITH f AS (
        |  SELECT source,
        |    unnest([x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> '']) AS term
        |  FROM documents
        |), tc AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2
        |), a AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM tc GROUP BY 1
        |)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  floor(CAST(n_types AS DOUBLE) / n_tokens * 1e9 + 0.5) / 1e9 AS ttr,
        |  floor(CAST(n_hapax AS DOUBLE) / n_types * 1e9 + 0.5) / 1e9 AS hapax_ratio,
        |  floor(CAST(n_tokens AS DOUBLE) / n_types * 1e9 + 0.5) / 1e9 AS mean_term_freq
        |FROM a""".stripMargin,

    // exact integer rank sums over cents; the closed form's double
    // arithmetic replayed term-for-term on the 1e-9 grid
    "q_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT c.c_mktsegment, s.cents,
        |    row_number() OVER (PARTITION BY c.c_mktsegment ORDER BY s.cents, s.o_custkey) AS i
        |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
        |  WHERE s.cents >= 0
        |), a AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total, CAST(sum(i * cents) AS BIGINT) AS iw
        |  FROM r GROUP BY 1
        |)
        |SELECT c_mktsegment, n, total,
        |  CASE WHEN total > 0 THEN
        |    floor((2.0 * iw / (CAST(n AS DOUBLE) * total) - CAST(n + 1 AS DOUBLE) / n) * 1e9 + 0.5) / 1e9
        |  END AS gini
        |FROM a""".stripMargin,

    // full binned-CDF replay: identical bin expression (same float
    // association), exact integer counts/cumulative/crossing rank,
    // the interpolation term-for-term on the 1e-9 grid
    "q_quantiles" ->
      """WITH vals AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |), stats AS (
        |  SELECT g, min(v) AS lo, max(v) AS hi, CAST(count(*) AS BIGINT) AS n
        |  FROM vals GROUP BY 1
        |), binned AS (
        |  SELECT r.g, s.lo, s.hi, s.n,
        |    CASE WHEN s.hi > s.lo THEN
        |      CAST(least(floor((r.v - s.lo) / (s.hi - s.lo) * 1000), 999) AS BIGINT)
        |    ELSE 0 END AS bin
        |  FROM vals r JOIN stats s ON r.g = s.g
        |), cells AS (
        |  SELECT g, bin, max(lo) AS lo, max(hi) AS hi, max(n) AS n,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM binned GROUP BY 1, 2
        |), cdf AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM cells
        |), ex AS (
        |  SELECT c.*, p.p,
        |    CAST(greatest(ceil(p.p * c.n), 1) AS BIGINT) AS rk
        |  FROM cdf c CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS p) p
        |)
        |SELECT g AS l_returnflag, p, n, lo, hi,
        |  CASE WHEN hi > lo THEN
        |    floor((lo + (hi - lo) / 1000 * (CAST(bin AS DOUBLE) +
        |      CAST(rk - (cum - cnt) AS DOUBLE) / cnt)) * 1e9 + 0.5) / 1e9
        |  ELSE lo END AS quantile
        |FROM ex WHERE cum >= rk AND (cum - cnt) < rk""".stripMargin,

    // standard ntile over the identical total order
    "q_ntile" ->
      """SELECT event_id, event_type,
        |  CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INTEGER) AS bucket
        |FROM events WHERE value IS NOT NULL""".stripMargin,

    // the full Stupid Backoff replay: double-BOS trigram stream,
    // integer count tables + derived context totals, per-branch
    // count ratios with the identical literal arithmetic (0.4*0.4,
    // not 0.16 — the Scala plan folds the same IEEE product)
    "q_lm_backoff" ->
      """WITH toks AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM documents
        |), tg AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks WHERE len(t) >= 1
        |), tri AS (
        |  SELECT doc_id,
        |    CASE WHEN i <= 2 THEN '<s>' ELSE t[i-2] END AS w1,
        |    CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS w2,
        |    t[i] AS w3
        |  FROM tg
        |), bi AS (
        |  SELECT doc_id,
        |    CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS w1, t[i] AS w2
        |  FROM tg
        |), c3t AS (
        |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123 FROM tri
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3
        |), c2t AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2
        |), c1t AS (
        |  SELECT t2.w AS w, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT doc_id, unnest(t) AS w FROM toks) t2
        |  WHERE t2.doc_id % 2 = 0 GROUP BY 1
        |), ctx2 AS (SELECT w1, w2, sum(c123) AS c12ctx FROM c3t GROUP BY 1, 2),
        |ctx1 AS (SELECT w1 AS w2, sum(c12) AS c2ctx FROM c2t GROUP BY 1),
        |tot AS (SELECT CAST(coalesce(sum(c1), 0) AS DOUBLE) AS n,
        |               CAST(count(*) AS DOUBLE) AS v FROM c1t),
        |scored AS (
        |  SELECT q.doc_id,
        |    CASE WHEN c3t.c123 IS NOT NULL THEN CAST(c3t.c123 AS DOUBLE) / CAST(ctx2.c12ctx AS DOUBLE)
        |      WHEN b23.c12 IS NOT NULL THEN 0.4 * CAST(b23.c12 AS DOUBLE) / CAST(ctx1.c2ctx AS DOUBLE)
        |      ELSE (CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)) * (CAST(coalesce(u3.c1, 0) AS DOUBLE) + 0.5) / (tot.n + 0.5 * tot.v)
        |    END AS s
        |  FROM tri q
        |  LEFT JOIN c3t ON q.w1 = c3t.w1 AND q.w2 = c3t.w2 AND q.w3 = c3t.w3
        |  LEFT JOIN ctx2 ON q.w1 = ctx2.w1 AND q.w2 = ctx2.w2
        |  LEFT JOIN c2t b23 ON q.w2 = b23.w1 AND q.w3 = b23.w2
        |  LEFT JOIN ctx1 ON q.w2 = ctx1.w2
        |  LEFT JOIN c1t u3 ON q.w3 = u3.w
        |  CROSS JOIN tot
        |  WHERE q.doc_id % 2 = 1
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  floor((-sum(ln(s)) / count(*)) * 1000000 + 0.5) / 1000000 AS nll3
        |FROM scored GROUP BY 1""".stripMargin,

    // ordered bucket-space cuts at 7000 / 8500 on the portable coin
    "q_multi_split" ->
      """SELECT o_orderkey,
        |  CASE WHEN (o_orderkey * 40503) % 10000 < 7000 THEN 'train'
        |       WHEN (o_orderkey * 40503) % 10000 < 8500 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM orders""".stripMargin,

    // per-codepoint-class counts via global regexp strip ('g' flag —
    // DuckDB replaces first match only by default), snapped fractions,
    // fixed-precedence argmax
    "q_script_profile" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN '数据处理系统与分布式计算引擎 программа 123'
        |         ELSE text || ' 数据系统 пример 42' END AS text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, length(text) AS total,
        |    length(text) - length(regexp_replace(text, '\p{Latin}', '', 'g')) AS latin,
        |    length(text) - length(regexp_replace(text, '\p{Han}', '', 'g')) AS han,
        |    length(text) - length(regexp_replace(text, '\p{Cyrillic}', '', 'g')) AS cyr,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
        |    length(text) - length(regexp_replace(text, '\s', '', 'g')) AS ws
        |  FROM d
        |)
        |SELECT doc_id, CAST(total AS INTEGER) AS n_chars_total,
        |  CASE WHEN total > 0 THEN floor(latin / CAST(total AS DOUBLE) * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS frac_latin,
        |  CASE WHEN total > 0 THEN floor(han / CAST(total AS DOUBLE) * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS frac_han,
        |  CASE WHEN total > 0 THEN floor(cyr / CAST(total AS DOUBLE) * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS frac_cyrillic,
        |  CASE WHEN total > 0 THEN floor(dig / CAST(total AS DOUBLE) * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS frac_digit,
        |  CASE WHEN total > 0 THEN floor(ws / CAST(total AS DOUBLE) * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS frac_space,
        |  CASE WHEN total > 0 THEN floor((total - latin - han - cyr - dig - ws) / CAST(total AS DOUBLE) * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS frac_other,
        |  CASE WHEN latin = 0 AND han = 0 AND cyr = 0 THEN 'und'
        |       WHEN latin >= han AND latin >= cyr THEN 'latin'
        |       WHEN han >= cyr THEN 'han'
        |       ELSE 'cyrillic' END AS main_script
        |FROM c""".stripMargin,

    // distinct baskets → self-join pair supports → both rule
    // directions with snapped confidence/lift from integer counts
    "q_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT o_custkey AS g, l_suppkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), n AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS nb FROM b),
        |si AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM b GROUP BY 1),
        |pp AS (
        |  SELECT a.i AS x, b2.i AS y, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM b a JOIN b b2 ON a.g = b2.g AND a.i < b2.i GROUP BY 1, 2
        |  HAVING count(*) >= 3
        |), dir AS (
        |  SELECT x AS antecedent, y AS consequent, n_ab FROM pp
        |  UNION ALL SELECT y, x, n_ab FROM pp
        |), r AS (
        |  SELECT d.antecedent, d.consequent, d.n_ab AS n_pair,
        |    sa.n_i AS n_ante, sc.n_i AS n_cons,
        |    floor(d.n_ab / CAST(sa.n_i AS DOUBLE) * 1e9 + 0.5) / 1e9 AS confidence,
        |    floor(CAST(d.n_ab * n.nb AS DOUBLE)
        |      / (CAST(sa.n_i AS DOUBLE) * CAST(sc.n_i AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS lift
        |  FROM dir d
        |  JOIN si sa ON d.antecedent = sa.i
        |  JOIN si sc ON d.consequent = sc.i
        |  CROSS JOIN n
        |)
        |SELECT antecedent, consequent, n_pair, n_ante, n_cons, confidence, lift
        |FROM r WHERE confidence >= 0.2""".stripMargin,

    // lag-chain trigrams, count, deterministic (count desc, gram) cut
    "q_event_ngrams" ->
      """WITH l AS (
        |  SELECT lag(event_type, 2) OVER w AS t0,
        |    lag(event_type, 1) OVER w AS t1, event_type AS t2
        |  FROM events WHERE event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT t0 || '>' || t1 || '>' || t2 AS gram, count(*) AS n_occurrences
        |FROM l WHERE t0 IS NOT NULL AND t1 IS NOT NULL
        |GROUP BY 1 ORDER BY n_occurrences DESC, gram LIMIT 25""".stripMargin,

    // clamp-to-edge equal-width binning with exact integer counts
    "q_histogram" ->
      """WITH binned AS (
        |  SELECT event_type,
        |    CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 19) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_type, bin, count(*) AS cnt,
        |  0.0 + bin * 25.0 AS bin_lo, 0.0 + (bin + 1) * 25.0 AS bin_hi
        |FROM binned GROUP BY 1, 2""".stripMargin,

    // two HITS half-step pairs unrolled: auth ← Σ hub / total,
    // hub ← Σ auth / total, snapped per half-step exactly as the
    // operator runs them
    "q_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |a1r AS (SELECT dst, CAST(count(*) AS DOUBLE) AS a FROM e GROUP BY 1),
        |a1t AS (SELECT sum(a) AS t FROM a1r),
        |a1 AS (SELECT n.node, CASE WHEN a1t.t > 0
        |  THEN floor(coalesce(a1r.a, 0) / a1t.t * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS auth
        |  FROM n LEFT JOIN a1r ON n.node = a1r.dst CROSS JOIN a1t),
        |h1r AS (SELECT e.src, sum(a1.auth) AS h FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1),
        |h1t AS (SELECT sum(h) AS t FROM h1r),
        |h1 AS (SELECT n.node, CASE WHEN h1t.t > 0
        |  THEN floor(coalesce(h1r.h, 0) / h1t.t * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS hub
        |  FROM n LEFT JOIN h1r ON n.node = h1r.src CROSS JOIN h1t),
        |a2r AS (SELECT e.dst, sum(h1.hub) AS a FROM e JOIN h1 ON e.src = h1.node GROUP BY 1),
        |a2t AS (SELECT sum(a) AS t FROM a2r),
        |a2 AS (SELECT n.node, CASE WHEN a2t.t > 0
        |  THEN floor(coalesce(a2r.a, 0) / a2t.t * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS auth
        |  FROM n LEFT JOIN a2r ON n.node = a2r.dst CROSS JOIN a2t),
        |h2r AS (SELECT e.src, sum(a2.auth) AS h FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1),
        |h2t AS (SELECT sum(h) AS t FROM h2r),
        |h2 AS (SELECT n.node, CASE WHEN h2t.t > 0
        |  THEN floor(coalesce(h2r.h, 0) / h2t.t * 1e9 + 0.5) / 1e9 ELSE 0.0 END AS hub
        |  FROM n LEFT JOIN h2r ON n.node = h2r.src CROSS JOIN h2t)
        |SELECT h2.node, h2.hub, a2.auth FROM h2 JOIN a2 ON h2.node = a2.node""".stripMargin,

    // exact 3-gram set containment |A∩B|/|A| with the
    // contained→container orientation (shorter set first, ties by id)
    "q_containment" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 10000, substr(text, 1, 120) FROM documents WHERE doc_id < 200
        |), toks AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM d
        |), sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
        |    ELSE [array_to_string(t, ' ')] END) AS s
        |  FROM toks WHERE len(t) >= 1
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  floor((len(list_intersect(a.s, b.s))::DOUBLE / len(a.s)) * 1000000 + 0.5) / 1000000 AS containment
        |FROM sh a JOIN sh b ON (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id))
        |WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.8""".stripMargin,

    // md5 cell grid + windowed cell counts keyed by the epoch-aligned
    // 3-day window, probe estimates as min over the d cells
    "q_stream_cms" ->
      """WITH items AS (
        |  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS start_us,
        |    event_type, user_id AS x
        |  FROM events WHERE user_id IS NOT NULL
        |), hx AS (
        |  SELECT start_us, event_type, x, j,
        |    ((((instr('0123456789abcdef', substr(h,1,1))-1)*16
        |      + (instr('0123456789abcdef', substr(h,2,1))-1))*16
        |      + (instr('0123456789abcdef', substr(h,3,1))-1))*16
        |      + (instr('0123456789abcdef', substr(h,4,1))-1)) % 256 AS bucket
        |  FROM (SELECT start_us, event_type, x, j,
        |          md5(CAST(j AS VARCHAR) || ':' || CAST(x AS VARCHAR)) AS h
        |        FROM items CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
        |), sk AS (
        |  SELECT start_us, event_type, j, bucket, count(*) AS cnt FROM hx GROUP BY 1, 2, 3, 4
        |), probes AS (
        |  SELECT start_us, event_type, x, count(*) AS n_true FROM items WHERE x < 20 GROUP BY 1, 2, 3
        |), pb AS (
        |  SELECT p.start_us, p.event_type, p.x, p.n_true, h.j, h.bucket
        |  FROM probes p JOIN (SELECT DISTINCT start_us, event_type, x, j, bucket FROM hx) h
        |    ON p.start_us = h.start_us AND p.event_type = h.event_type AND p.x = h.x
        |)
        |SELECT pb.start_us, pb.event_type, pb.x AS user_id, pb.n_true,
        |  min(coalesce(sk.cnt, 0)) AS cms_est
        |FROM pb LEFT JOIN sk
        |  ON pb.start_us = sk.start_us AND pb.event_type = sk.event_type
        |  AND pb.j = sk.j AND pb.bucket = sk.bucket
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // batch replay of the windowed fixed-grid binning + the same
    // CDF-crossing read, exact integer counts/ranks, interpolation
    // term-for-term on the 1e-9 grid
    // global bottom-512-by-md5-rank per type (bottom-k of shard
    // bottom-k's == global bottom-k), sorted by value, type-7 read
    // both samples replayed (bottom-256 per side), then the exact
    // max-CDF-gap list expression over the union of sample points
    "q_sketch_ks" ->
      s"""WITH raw AS (
        |  SELECT event_type, event_id % 2 AS side, CAST(value AS DOUBLE) AS v,
        |         md5(CAST(event_id AS VARCHAR)) AS h16
        |  FROM events WHERE value IS NOT NULL
        |), rr AS (
        |  SELECT event_type, side, v, $Fold13 AS r FROM raw
        |), rk AS (
        |  SELECT event_type, side, v,
        |         row_number() OVER (PARTITION BY event_type, side ORDER BY r, v) AS rn
        |  FROM rr
        |), arr AS (
        |  SELECT event_type, side, list(v ORDER BY v) AS vs
        |  FROM rk WHERE rn <= 256 GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, side, count(*) AS n FROM raw GROUP BY 1, 2
        |), j AS (
        |  SELECT a.event_type, a.vs AS va, ta.n AS n_a, b.vs AS vb, tb.n AS n_b
        |  FROM arr a
        |  JOIN arr b ON a.event_type = b.event_type AND a.side = 0 AND b.side = 1
        |  JOIN tot ta ON ta.event_type = a.event_type AND ta.side = 0
        |  JOIN tot tb ON tb.event_type = a.event_type AND tb.side = 1
        |)
        |SELECT event_type, n_a, n_b,
        |  floor(list_max([abs(len(list_filter(va, x -> x <= p)) / CAST(len(va) AS DOUBLE)
        |    - len(list_filter(vb, x -> x <= p)) / CAST(len(vb) AS DOUBLE))
        |    FOR p IN list_distinct(list_sort(va || vb))]) * 1e9 + 0.5) / 1e9 AS d_stat
        |FROM j""".stripMargin,

    "q_tdigest" ->
      s"""WITH raw AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |         md5(CAST(event_id AS VARCHAR)) AS h16
        |  FROM events WHERE value IS NOT NULL
        |), rr AS (
        |  SELECT event_type, v, $Fold13 AS r FROM raw
        |), rk AS (
        |  SELECT event_type, v,
        |         row_number() OVER (PARTITION BY event_type ORDER BY r, v) AS rn
        |  FROM rr
        |), arr AS (
        |  SELECT event_type, list(v ORDER BY v) AS vs, count(*) AS m
        |  FROM rk WHERE rn <= 512 GROUP BY 1
        |), tot AS (
        |  SELECT event_type, count(*) AS n FROM raw GROUP BY 1
        |), probs AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(p))
        |SELECT a.event_type, p.p,
        |  floor((vs[CAST(floor((a.m - 1) * p.p) AS BIGINT) + 1]
        |         + ((a.m - 1) * p.p - floor((a.m - 1) * p.p))
        |           * (vs[least(CAST(floor((a.m - 1) * p.p) AS BIGINT) + 2, a.m)]
        |              - vs[CAST(floor((a.m - 1) * p.p) AS BIGINT) + 1])) * 1e6 + 0.5) / 1e6 AS q,
        |  CAST(a.m AS BIGINT) AS n_sample, t.n
        |FROM arr a CROSS JOIN probs p JOIN tot t USING (event_type)""".stripMargin,

    // per-(3-day window, type) replay of the same bottom-256 read
    "q_stream_tdigest" ->
      s"""WITH raw AS (
        |  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS start_us,
        |         event_type, CAST(value AS DOUBLE) AS v,
        |         md5(CAST(event_id AS VARCHAR)) AS h16
        |  FROM events WHERE value IS NOT NULL
        |), rr AS (
        |  SELECT start_us, event_type, v, $Fold13 AS r FROM raw
        |), rk AS (
        |  SELECT start_us, event_type, v,
        |         row_number() OVER (PARTITION BY start_us, event_type ORDER BY r, v) AS rn
        |  FROM rr
        |), arr AS (
        |  SELECT start_us, event_type, list(v ORDER BY v) AS vs, count(*) AS m
        |  FROM rk WHERE rn <= 256 GROUP BY 1, 2
        |), tot AS (
        |  SELECT start_us, event_type, count(*) AS n FROM raw GROUP BY 1, 2
        |), probs AS (SELECT * FROM (VALUES (0.5), (0.95)) AS t(p))
        |SELECT a.start_us, a.event_type, p.p,
        |  floor((vs[CAST(floor((a.m - 1) * p.p) AS BIGINT) + 1]
        |         + ((a.m - 1) * p.p - floor((a.m - 1) * p.p))
        |           * (vs[least(CAST(floor((a.m - 1) * p.p) AS BIGINT) + 2, a.m)]
        |              - vs[CAST(floor((a.m - 1) * p.p) AS BIGINT) + 1])) * 1e6 + 0.5) / 1e6 AS q,
        |  CAST(a.m AS BIGINT) AS n_sample, t.n
        |FROM arr a CROSS JOIN probs p
        |JOIN tot t USING (start_us, event_type)""".stripMargin,

    "q_stream_quantiles" ->
      """WITH items AS (
        |  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS start_us, event_type,
        |    CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL
        |), cells AS (
        |  SELECT start_us, event_type, bin, CAST(count(*) AS BIGINT) AS cnt
        |  FROM items GROUP BY 1, 2, 3
        |), cdf AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY start_us, event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY start_us, event_type) AS BIGINT) AS n
        |  FROM cells
        |), ex AS (
        |  SELECT c.*, p.p, CAST(greatest(ceil(p.p * c.n), 1) AS BIGINT) AS rk
        |  FROM cdf c CROSS JOIN (SELECT unnest([0.5, 0.95]) AS p) p
        |)
        |SELECT start_us, event_type, p, n,
        |  floor((0.0 + 10.0 * (CAST(bin AS DOUBLE) +
        |    CAST(rk - (cum - cnt) AS DOUBLE) / cnt)) * 1e9 + 0.5) / 1e9 AS quantile
        |FROM ex WHERE cum >= rk AND (cum - cnt) < rk""".stripMargin,

    // identical planted construction; per-(source, line) distinct-doc
    // counts decide boilerplate, survivors re-joined in line order
    "q_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || '(c) boilerplate footer of ' || source
        |         || chr(10) || 'unique tail ' || doc_id AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS idx
        |  FROM d
        |), bp AS (
        |  SELECT source, line FROM l WHERE trim(line) <> ''
        |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 5
        |), keep AS (
        |  SELECT l.doc_id, l.line, l.idx FROM l
        |  LEFT JOIN bp ON l.source = bp.source AND l.line = bp.line
        |  WHERE bp.line IS NULL
        |), r AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean
        |  FROM keep GROUP BY 1
        |)
        |SELECT d.doc_id, md5(coalesce(r.clean, '')) AS clean_md5
        |FROM d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin,

    // the EWMA recurrence replayed exactly: per-step 1e-9 snap makes
    // the sequential fixed point engine-independent, the decay weight
    // is a pure multiply chain (no pow), and the control band reads
    // LAGGED running sums so each value is judged by its past only
    "q_ewma" ->
      """WITH RECURSIVE s AS (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
        |  FROM events
        |), rec AS (
        |  SELECT user_id, r, event_id, value,
        |    CASE WHEN value IS NULL THEN CAST(0.0 AS DOUBLE)
        |         ELSE floor((0.25 * value) * 1e9 + 0.5) / 1e9 END AS b,
        |    CASE WHEN value IS NULL THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(0.75 AS DOUBLE) END AS w
        |  FROM s WHERE r = 1
        |  UNION ALL
        |  SELECT s.user_id, s.r, s.event_id, s.value,
        |    CASE WHEN s.value IS NULL THEN rec.b
        |         ELSE floor((0.25 * s.value + 0.75 * rec.b) * 1e9 + 0.5) / 1e9 END,
        |    CASE WHEN s.value IS NULL THEN rec.w ELSE rec.w * 0.75 END
        |  FROM rec JOIN s ON s.user_id = rec.user_id AND s.r = rec.r + 1
        |), adj AS (
        |  SELECT user_id, r, event_id, value,
        |    CASE WHEN w = 1.0 THEN NULL ELSE b / (1.0 - w) END AS e FROM rec
        |), run AS (
        |  SELECT user_id, r, event_id, value, e,
        |    count(value) OVER wrun AS cnt, sum(value) OVER wrun AS s1,
        |    sum(value * value) OVER wrun AS s2
        |  FROM adj
        |  WINDOW wrun AS (PARTITION BY user_id ORDER BY r ROWS UNBOUNDED PRECEDING)
        |), lg AS (
        |  SELECT user_id, r, event_id, value, e,
        |    lag(e) OVER wo AS ep, lag(cnt) OVER wo AS cntp,
        |    lag(s1) OVER wo AS s1p, lag(s2) OVER wo AS s2p
        |  FROM run WINDOW wo AS (PARTITION BY user_id ORDER BY r)
        |)
        |SELECT event_id, user_id, floor(e * 1e9 + 0.5) / 1e9 AS ewma,
        |  CASE WHEN value IS NOT NULL AND cntp >= 5 AND ep IS NOT NULL THEN
        |    CASE WHEN floor(abs(value - ep) * 1e9 + 0.5) / 1e9 >
        |      floor(3.0 * (floor(sqrt(greatest((s2p - s1p * s1p / cntp) / cntp, 0.0))
        |        * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9
        |    THEN 1 ELSE 0 END
        |  END AS is_anomaly
        |FROM lg""".stripMargin,

    // recursive replay carrying BOTH smoother states (b1,w1,b2,w2):
    // s1 snaps out of the first recurrence and feeds the second in
    // the same row, exactly as the chained window aggregates run
    "q_double_ewma" -> brownForecastOracleSql,

    // the streamed forecast must equal the batch forecast
    // row-for-row — the identical recursive replay grades it
    "q_stream_forecast" -> brownForecastOracleSql,

    // the streamed chart must equal the batch chart row-for-row —
    // the identical recursive replay grades it
    "q_stream_ewma" ->
      """WITH RECURSIVE s AS (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
        |  FROM events
        |), rec AS (
        |  SELECT user_id, r, event_id, value,
        |    CASE WHEN value IS NULL THEN CAST(0.0 AS DOUBLE)
        |         ELSE floor((0.25 * value) * 1e9 + 0.5) / 1e9 END AS b,
        |    CASE WHEN value IS NULL THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(0.75 AS DOUBLE) END AS w
        |  FROM s WHERE r = 1
        |  UNION ALL
        |  SELECT s.user_id, s.r, s.event_id, s.value,
        |    CASE WHEN s.value IS NULL THEN rec.b
        |         ELSE floor((0.25 * s.value + 0.75 * rec.b) * 1e9 + 0.5) / 1e9 END,
        |    CASE WHEN s.value IS NULL THEN rec.w ELSE rec.w * 0.75 END
        |  FROM rec JOIN s ON s.user_id = rec.user_id AND s.r = rec.r + 1
        |), adj AS (
        |  SELECT user_id, r, event_id, value,
        |    CASE WHEN w = 1.0 THEN NULL ELSE b / (1.0 - w) END AS e FROM rec
        |), run AS (
        |  SELECT user_id, r, event_id, value, e,
        |    count(value) OVER wrun AS cnt, sum(value) OVER wrun AS s1,
        |    sum(value * value) OVER wrun AS s2
        |  FROM adj
        |  WINDOW wrun AS (PARTITION BY user_id ORDER BY r ROWS UNBOUNDED PRECEDING)
        |), lg AS (
        |  SELECT user_id, r, event_id, value, e,
        |    lag(e) OVER wo AS ep, lag(cnt) OVER wo AS cntp,
        |    lag(s1) OVER wo AS s1p, lag(s2) OVER wo AS s2p
        |  FROM run WINDOW wo AS (PARTITION BY user_id ORDER BY r)
        |)
        |SELECT event_id, user_id, floor(e * 1e9 + 0.5) / 1e9 AS ewma,
        |  CASE WHEN value IS NOT NULL AND cntp >= 5 AND ep IS NOT NULL THEN
        |    CASE WHEN floor(abs(value - ep) * 1e9 + 0.5) / 1e9 >
        |      floor(3.0 * (floor(sqrt(greatest((s2p - s1p * s1p / cntp) / cntp, 0.0))
        |        * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9
        |    THEN 1 ELSE 0 END
        |  END AS is_anomaly
        |FROM lg""".stripMargin,

    "q_retention" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS p FROM events
        |), u AS (
        |  SELECT DISTINCT user_id, p FROM e
        |), c AS (
        |  SELECT user_id, min(p) AS cohort FROM u GROUP BY 1
        |), a AS (
        |  SELECT cohort, CAST(floor(date_diff('day', cohort, p) / 7.0) AS BIGINT) AS "offset",
        |    count(*) AS n_active
        |  FROM u JOIN c USING (user_id) GROUP BY 1, 2
        |), sz AS (
        |  SELECT cohort, n_active AS cohort_size FROM a WHERE "offset" = 0
        |)
        |SELECT epoch_us(cohort) AS cohort_us, "offset", n_active, cohort_size,
        |  floor(n_active / CAST(cohort_size AS DOUBLE) * 1000000 + 0.5) / 1000000 AS retention
        |FROM a JOIN sz USING (cohort)""".stripMargin,

    // identical subject construction, then the product-limit
    // recursion over the distinct-duration frame: per-t factors are
    // exact-integer ratios snapped at 1e-9, survival multiplies and
    // re-snaps per step — the same left-to-right fold the aggregate
    // lambda runs
    "q_survival" ->
      """WITH RECURSIVE subj AS (
        |  SELECT date_trunc('month', min(ts)) AS cohort,
        |    CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS BIGINT) AS t,
        |    CASE WHEN max(ts) < (SELECT max(ts) FROM events) - INTERVAL 14 DAY
        |         THEN 1 ELSE 0 END AS ev
        |  FROM events GROUP BY user_id
        |), pt AS (
        |  SELECT cohort, t,
        |    CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN ev = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2
        |), ar AS (
        |  SELECT *,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) AS BIGINT)
        |      - CAST(coalesce(sum(d + c) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn
        |  FROM pt
        |), fa AS (
        |  SELECT *,
        |    floor(CAST(at_risk - d AS DOUBLE) / at_risk * 1e9 + 0.5) / 1e9 AS factor
        |  FROM ar
        |), rec AS (
        |  SELECT cohort, t, at_risk, d, c, rn,
        |    floor(1.0 * factor * 1e9 + 0.5) / 1e9 AS survival
        |  FROM fa WHERE rn = 1
        |  UNION ALL
        |  SELECT f.cohort, f.t, f.at_risk, f.d, f.c, f.rn,
        |    floor(rec.survival * f.factor * 1e9 + 0.5) / 1e9
        |  FROM rec JOIN fa f ON f.cohort = rec.cohort AND f.rn = rec.rn + 1
        |)
        |SELECT epoch_us(cohort) AS cohort_us, t, at_risk, d, c, survival
        |FROM rec""".stripMargin,

    // full-grid Pearson chi2 (zero cells included via the marginal
    // cross join) + the SAME unrolled survival series per dof: even
    // df → exp(−x/2)Σ(x/2)^i/i!, odd df → A&S erfc chain + the
    // half-integer-gamma terms, every term snapped at 1e-9
    "q_chi2" -> chi2OracleSql,

    // same contingency machinery as q_chi2; every MI/entropy term is
    // an integer-count ratio snapped to the 1e-9 grid before the sum
    "q_mutual_info" ->
      """WITH d AS (
        |  SELECT source, lang, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS len_hi
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |), obs AS (
        |  SELECT source, lang, len_hi, count(*) AS o FROM d GROUP BY 1, 2, 3
        |), rowm AS (
        |  SELECT source, lang, CAST(sum(o) AS BIGINT) AS ra FROM obs GROUP BY 1, 2
        |), colm AS (
        |  SELECT source, len_hi, CAST(sum(o) AS BIGINT) AS rb FROM obs GROUP BY 1, 2
        |), tot AS (
        |  SELECT source, CAST(sum(o) AS BIGINT) AS n FROM obs GROUP BY 1
        |), mi AS (
        |  SELECT obs.source,
        |    floor(sum(floor((obs.o / CAST(tot.n AS DOUBLE)
        |      * ln(obs.o * CAST(tot.n AS DOUBLE) / (rowm.ra * colm.rb))) * 1e9 + 0.5) / 1e9)
        |      * 1e9 + 0.5) / 1e9 AS mi
        |  FROM obs
        |  JOIN rowm ON obs.source = rowm.source AND obs.lang = rowm.lang
        |  JOIN colm ON obs.source = colm.source AND obs.len_hi = colm.len_hi
        |  JOIN tot ON obs.source = tot.source
        |  GROUP BY 1
        |), ha AS (
        |  SELECT rowm.source,
        |    floor(sum(floor(((-rowm.ra) / CAST(tot.n AS DOUBLE)
        |      * ln(rowm.ra / CAST(tot.n AS DOUBLE))) * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9 AS h_a
        |  FROM rowm JOIN tot ON rowm.source = tot.source GROUP BY 1
        |), hb AS (
        |  SELECT colm.source,
        |    floor(sum(floor(((-colm.rb) / CAST(tot.n AS DOUBLE)
        |      * ln(colm.rb / CAST(tot.n AS DOUBLE))) * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9 AS h_b
        |  FROM colm JOIN tot ON colm.source = tot.source GROUP BY 1
        |)
        |SELECT tot.source, tot.n, mi.mi, ha.h_a, hb.h_b,
        |  CASE WHEN ha.h_a > 0 AND hb.h_b > 0
        |    THEN floor(mi.mi / sqrt(ha.h_a * hb.h_b) * 1e9 + 0.5) / 1e9 END AS nmi
        |FROM tot
        |JOIN mi ON tot.source = mi.source
        |JOIN ha ON tot.source = ha.source
        |JOIN hb ON tot.source = hb.source""".stripMargin,

    // group sums replayed with the identical snap points: group mean
    // -> grid, the three feature-level sums -> grid, grand mean ->
    // grid, both sums of squares -> grid, F -> grid
    "q_anova_f" ->
      """WITH s AS (
        |  SELECT l_partkey % 100 AS feature, l_returnflag AS grp, CAST(l_quantity AS DOUBLE) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        |), g AS (
        |  SELECT feature, grp, count(*) AS c, sum(v) AS sv, sum(v * v) AS sv2 FROM s GROUP BY 1, 2
        |), gm AS (
        |  SELECT feature, grp, c, sv, sv2, floor(sv / c * 1e9 + 0.5) / 1e9 AS m FROM g
        |), ft AS (
        |  SELECT feature, CAST(sum(c) AS BIGINT) AS n, count(*) AS k,
        |    floor(sum(sv) * 1e9 + 0.5) / 1e9 AS ts,
        |    floor(sum(sv2) * 1e9 + 0.5) / 1e9 AS ts2,
        |    floor(sum(c * m * m) * 1e9 + 0.5) / 1e9 AS sgm
        |  FROM gm GROUP BY 1
        |), gr AS (
        |  SELECT feature, n, k, ts2, sgm, floor(ts / n * 1e9 + 0.5) / 1e9 AS grand FROM ft
        |), fin AS (
        |  SELECT feature, n, k,
        |    floor((sgm - n * grand * grand) * 1e9 + 0.5) / 1e9 AS ss_between,
        |    floor((ts2 - sgm) * 1e9 + 0.5) / 1e9 AS ss_within
        |  FROM gr
        |)
        |SELECT feature, n, k, ss_between, ss_within,
        |  CASE WHEN k >= 2 AND n > k AND ss_within > 0 THEN
        |    floor(((ss_between / (k - 1)) / (ss_within / (n - k))) * 1e9 + 0.5) / 1e9 END AS f_stat
        |FROM fin""".stripMargin,

    // pairwise-complete Pearson over users: per-user mean on the
    // grid, the five pair sums on the grid, then the closed form
    // feature-wise [0,1] normalization (Pearson is affine-invariant;
    // keeps every snapped MEAN a genuine grid point at any entity
    // count — the sum-based form diverged at sf1) + means Pearson
    "q_corr_matrix" ->
      """WITH m AS (
        |  SELECT user_id, event_type, floor(avg(value) * 1e9 + 0.5) / 1e9 AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), bounds AS (
        |  SELECT event_type, min(m) AS lo, max(m) AS hi FROM m GROUP BY 1
        |), nm AS (
        |  SELECT m.user_id, m.event_type,
        |    CASE WHEN b.hi > b.lo
        |      THEN floor((m.m - b.lo) / (b.hi - b.lo) * 1e9 + 0.5) / 1e9
        |      ELSE 0.0 END AS v
        |  FROM m JOIN bounds b ON m.event_type = b.event_type
        |), p AS (
        |  SELECT a.event_type AS f1, b.event_type AS f2, a.v AS x, b.v AS y
        |  FROM nm a JOIN nm b ON a.user_id = b.user_id WHERE a.event_type < b.event_type
        |), agg AS (
        |  SELECT f1, f2, count(*) AS n_pairs,
        |    floor(avg(x) * 1e9 + 0.5) / 1e9 AS mx, floor(avg(y) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg(x * x) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(y * y) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg(x * y) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM p GROUP BY 1, 2
        |), der AS (
        |  SELECT f1, f2, n_pairs,
        |    floor((mxy - mx * my) * 1e9 + 0.5) / 1e9 AS cov,
        |    floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 AS vx,
        |    floor((myy - my * my) * 1e9 + 0.5) / 1e9 AS vy
        |  FROM agg
        |)
        |SELECT f1, f2, n_pairs,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN floor(cov / sqrt(vx * vy) * 1e9 + 0.5) / 1e9 END AS corr
        |FROM der""".stripMargin,

    // the full PCA determinism contract replayed: grid covariance,
    // 8 power-iteration rounds (matrix-vector product -> grid, norm
    // -> grid, normalized vector -> grid) from the uniform start
    // 1/sqrt(64) = 0.125, projection = dot - bias on the 1e-6 grid
    "q_pca" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |), u AS MATERIALIZED (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
        |), nn AS MATERIALIZED (
        |  SELECT count(*) AS n FROM e
        |), mu AS MATERIALIZED (
        |  SELECT i, floor(sum(x) / (SELECT n FROM nn) * 1e9 + 0.5) / 1e9 AS m FROM u GROUP BY i
        |), cv AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(floor((sum(a.x * b.x) / (SELECT n FROM nn) - ma.m * mb.m) * 1e9 + 0.5) AS BIGINT) AS c
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id
        |  JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
        |  GROUP BY a.i, b.i, ma.m, mb.m
        |), x0 AS (SELECT i, CAST(125000000 AS HUGEINT) AS xi FROM mu),
        |p1 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x0.xi) AS yi
        |  FROM cv JOIN x0 ON cv.j = x0.i GROUP BY cv.i
        |), m1 AS (
        |  SELECT max(abs(yi)) AS mx FROM p1
        |), x1 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p1, m1
        |),
        |p2 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x1.xi) AS yi
        |  FROM cv JOIN x1 ON cv.j = x1.i GROUP BY cv.i
        |), m2 AS (
        |  SELECT max(abs(yi)) AS mx FROM p2
        |), x2 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p2, m2
        |),
        |p3 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x2.xi) AS yi
        |  FROM cv JOIN x2 ON cv.j = x2.i GROUP BY cv.i
        |), m3 AS (
        |  SELECT max(abs(yi)) AS mx FROM p3
        |), x3 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p3, m3
        |),
        |p4 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x3.xi) AS yi
        |  FROM cv JOIN x3 ON cv.j = x3.i GROUP BY cv.i
        |), m4 AS (
        |  SELECT max(abs(yi)) AS mx FROM p4
        |), x4 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p4, m4
        |),
        |p5 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x4.xi) AS yi
        |  FROM cv JOIN x4 ON cv.j = x4.i GROUP BY cv.i
        |), m5 AS (
        |  SELECT max(abs(yi)) AS mx FROM p5
        |), x5 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p5, m5
        |),
        |p6 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x5.xi) AS yi
        |  FROM cv JOIN x5 ON cv.j = x5.i GROUP BY cv.i
        |), m6 AS (
        |  SELECT max(abs(yi)) AS mx FROM p6
        |), x6 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p6, m6
        |),
        |p7 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x6.xi) AS yi
        |  FROM cv JOIN x6 ON cv.j = x6.i GROUP BY cv.i
        |), m7 AS (
        |  SELECT max(abs(yi)) AS mx FROM p7
        |), x7 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p7, m7
        |),
        |p8 AS MATERIALIZED (
        |  SELECT cv.i, sum(CAST(cv.c AS HUGEINT) * x7.xi) AS yi
        |  FROM cv JOIN x7 ON cv.j = x7.i GROUP BY cv.i
        |), m8 AS (
        |  SELECT max(abs(yi)) AS mx FROM p8
        |), x8 AS MATERIALIZED (
        |  SELECT i, ((2*yi*1000000000 + mx) - (((2*yi*1000000000 + mx) % (2*mx) + 2*mx) % (2*mx))) // (2*mx) AS xi
        |  FROM p8, m8
        |),
        |n9 AS (
        |  SELECT CAST(floor(sqrt(CAST(sum(xi * xi) AS DOUBLE)) + 0.5) AS HUGEINT) AS l2 FROM x8
        |), vv AS MATERIALIZED (
        |  SELECT i, ((2*xi*1000000000 + l2) - (((2*xi*1000000000 + l2) % (2*l2) + 2*l2) % (2*l2))) // (2*l2) AS vi
        |  FROM x8, n9
        |), bias AS (
        |  SELECT sum(CAST(floor((CAST(vi AS DOUBLE) / 1e9) * mu.m * 1e9 + 0.5) AS BIGINT)) AS b
        |  FROM vv JOIN mu ON vv.i = mu.i
        |)
        |SELECT u.vec_id,
        |  floor((sum(CAST(floor(u.x * (CAST(vv.vi AS DOUBLE) / 1e9) * 1e9 + 0.5) AS BIGINT))
        |    - (SELECT b FROM bias)) / 1000.0 + 0.5) / 1000000 AS pc1
        |FROM u JOIN vv ON u.i = vv.i GROUP BY u.vec_id""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  floor(sum(l_quantity) * 1000000 + 0.5) / 1000000 AS sum_qty,
        |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // exact type-7 quantiles replayed from integer counts with the
    // IDENTICAL interpolation expression (vlo + (h−⌊h⌋)(vhi−vlo)) —
    // never quantile_cont, whose interpolation formula is the
    // engine's own choice
    "q_outliers" ->
      """WITH s AS (
        |  SELECT event_id, event_type AS g, value AS v FROM events WHERE value IS NOT NULL
        |), cnt AS (
        |  SELECT g, v, COUNT(*) AS c FROM s GROUP BY 1, 2
        |), st AS (
        |  SELECT g, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM cnt
        |), mq AS (
        |  SELECT g,
        |    MAX(CASE WHEN cumc - c <= floor((n-1)*0.5) AND floor((n-1)*0.5) < cumc THEN v END) AS vlo,
        |    MAX(CASE WHEN cumc - c <= ceil((n-1)*0.5) AND ceil((n-1)*0.5) < cumc THEN v END) AS vhi,
        |    MAX((n-1)*0.5) AS h
        |  FROM st GROUP BY 1
        |), m AS (
        |  SELECT g, vlo + (h - floor(h)) * (vhi - vlo) AS med FROM mq
        |), d AS (
        |  SELECT s.event_id, s.g, s.v, m.med, abs(s.v - m.med) AS dev FROM s JOIN m USING (g)
        |), dcnt AS (
        |  SELECT g, dev, COUNT(*) AS c FROM d GROUP BY 1, 2
        |), dst AS (
        |  SELECT g, dev, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY dev ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM dcnt
        |), dq AS (
        |  SELECT g,
        |    MAX(CASE WHEN cumc - c <= floor((n-1)*0.5) AND floor((n-1)*0.5) < cumc THEN dev END) AS vlo,
        |    MAX(CASE WHEN cumc - c <= ceil((n-1)*0.5) AND ceil((n-1)*0.5) < cumc THEN dev END) AS vhi,
        |    MAX((n-1)*0.5) AS h
        |  FROM dst GROUP BY 1
        |), md AS (
        |  SELECT g, vlo + (h - floor(h)) * (vhi - vlo) AS mad FROM dq
        |), z AS (
        |  SELECT d.event_id, d.g, d.v, d.med, md.mad,
        |    0.6745 * (d.v - d.med) / md.mad AS rz
        |  FROM d JOIN md USING (g) WHERE md.mad > 0
        |)
        |SELECT event_id, g AS event_type,
        |  floor(v * 1000000 + 0.5) / 1000000 AS value,
        |  floor(med * 1000000 + 0.5) / 1000000 AS med,
        |  floor(mad * 1000000 + 0.5) / 1000000 AS mad,
        |  floor(rz * 1000000 + 0.5) / 1000000 AS robust_z
        |FROM z WHERE abs(rz) > 3.5""".stripMargin,

    "q_drift_psi" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS pri,
        |    CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0
        |         WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 END AS side,
        |    CAST(least(greatest(floor((o_totalprice - 0.0) / 25000.0), 0), 19) AS BIGINT) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |), c AS (
        |  SELECT pri, side, bin, COUNT(*) AS c FROM b GROUP BY 1, 2, 3
        |), f AS (
        |  SELECT pri, side, bin,
        |    CAST(c AS DOUBLE) / CAST(CAST(SUM(c) OVER (PARTITION BY pri, side) AS BIGINT) AS DOUBLE) AS frac,
        |    CAST(SUM(c) OVER (PARTITION BY pri, side) AS BIGINT) AS n
        |  FROM c
        |), j AS (
        |  SELECT COALESCE(r.pri, q.pri) AS pri,
        |    greatest(COALESCE(r.frac, 0.0), 0.000001) AS pe,
        |    greatest(COALESCE(q.frac, 0.0), 0.000001) AS qe,
        |    r.n AS n_ref, q.n AS n_cur
        |  FROM (SELECT * FROM f WHERE side = 0) r
        |  FULL OUTER JOIN (SELECT * FROM f WHERE side = 1) q
        |    ON r.pri = q.pri AND r.bin = q.bin
        |)
        |SELECT pri AS o_orderpriority,
        |  floor(SUM(floor((qe - pe) * ln(qe / pe) * 1000000000 + 0.5) / 1000000000) * 1000000 + 0.5) / 1000000 AS psi,
        |  CAST(COALESCE(MAX(n_ref), 0) AS BIGINT) AS n_ref,
        |  CAST(COALESCE(MAX(n_cur), 0) AS BIGINT) AS n_cur
        |FROM j GROUP BY 1""".stripMargin,

    "q_ks_test" ->
      """WITH s AS (
        |  SELECT l_partkey % 50 AS feature, l_quantity AS v,
        |    CASE WHEN l_returnflag = 'A' THEN 0 ELSE 1 END AS side
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N') AND l_quantity IS NOT NULL
        |), c AS (
        |  SELECT feature, v,
        |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM s GROUP BY 1, 2
        |), w AS (
        |  SELECT feature,
        |    CAST(SUM(ca) OVER (PARTITION BY feature ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (PARTITION BY feature ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb,
        |    CAST(SUM(ca) OVER (PARTITION BY feature) AS BIGINT) AS na,
        |    CAST(SUM(cb) OVER (PARTITION BY feature) AS BIGINT) AS nb
        |  FROM c
        |)
        |SELECT feature,
        |  floor(MAX(abs(
        |    CASE WHEN na > 0 THEN CAST(cuma AS DOUBLE) / na ELSE 0.0 END -
        |    CASE WHEN nb > 0 THEN CAST(cumb AS DOUBLE) / nb ELSE 0.0 END)) * 1000000 + 0.5) / 1000000 AS ks_stat,
        |  MAX(na) AS n_a, MAX(nb) AS n_b
        |FROM w GROUP BY 1""".stripMargin,

    "q_multimodal_video" ->
      """SELECT doc_id AS media_id,
        |  64 + doc_id % 32 AS width,
        |  48 + doc_id % 16 AS height,
        |  1000 + doc_id * 10 AS duration_ms,
        |  CAST(2 AS BIGINT) AS n_frames,
        |  doc_id % 16 AS kf_gray_bucket
        |FROM documents WHERE doc_id < 300""".stripMargin,

    // constant I_PCM planes: frame-0 mean luma/chroma are the exact
    // generating formulas (lossless by spec)
    "q_h264" ->
      """SELECT doc_id AS media_id, CAST(32 AS BIGINT) AS width,
        |  CAST(16 AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
        |  (doc_id * 16) % 256 AS mean_y,
        |  (doc_id * 7) % 256 AS mean_cb,
        |  (doc_id * 11) % 256 AS mean_cr
        |FROM documents WHERE doc_id < 200""".stripMargin,

    // frame f of doc d is solid gray at bucket (d + 5f) % 16
    "q_video_frames" ->
      """SELECT doc_id AS media_id, CAST(f.frame_idx AS INTEGER) AS frame_idx,
        |  (doc_id + 5 * f.frame_idx) % 16 AS gray_bucket
        |FROM documents
        |CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS frame_idx) f
        |WHERE doc_id < 200""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""".stripMargin,

    // identical to q_range_join: the streamed binned join must be
    // result-equal to the batch one
    "q_stream_range_join" ->
      """SELECT c_custkey, s_suppkey,
        |  floor((c_acctbal) * 100 + 0.5) / 100 AS bal
        |FROM customer c JOIN supplier s
        |  ON c.c_acctbal >= s.s_acctbal - 50.0 AND c.c_acctbal <= s.s_acctbal + 50.0""".stripMargin,

    "q_stream_corpus_dedup" ->
      """SELECT doc_id FROM documents
        |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 2 = 0)""".stripMargin,

    // same planted fixture and true-5-gram-intersection oracle as
    // the batch q_decontaminate
    // the saved+merged filter must gate exactly the true-intersection
    // set (fpp 1e-9 makes FPs impossible at this corpus size)
    "q_webdataset" ->
      """SELECT CAST(doc_id AS VARCHAR) AS key, text, lang, source FROM documents""".stripMargin,

    "q_tfrecord" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents""".stripMargin,

    "q_bloom_persist" ->
      """WITH ev AS (
        |  SELECT * FROM (VALUES
        |    ('the secret holdout benchmark sentence for contamination screening'),
        |    ('another hidden evaluation phrase guarded against training data leakage')) v(text)
        |), evt AS (
        |  SELECT [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM ev
        |), evsh AS (
        |  SELECT flatten(list(CASE WHEN len(t) >= 5
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] FOR i IN range(1, len(t) - 3)]
        |    ELSE [array_to_string(t, ' ')] END)) AS es
        |  FROM evt
        |), d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |    THEN text || ' the secret holdout benchmark sentence for contamination screening'
        |    ELSE text END AS text
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM d
        |), dsh AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] FOR i IN range(1, len(t) - 3)]
        |    ELSE [array_to_string(t, ' ')] END AS s
        |  FROM dt
        |)
        |SELECT doc_id FROM dsh, evsh WHERE NOT list_has_any(s, es)""".stripMargin,

    "q_stream_decontaminate" ->
      """WITH ev AS (
        |  SELECT * FROM (VALUES
        |    ('the secret holdout benchmark sentence for contamination screening'),
        |    ('another hidden evaluation phrase guarded against training data leakage')) v(text)
        |), evt AS (
        |  SELECT [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM ev
        |), evsh AS (
        |  SELECT flatten(list(CASE WHEN len(t) >= 5
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] FOR i IN range(1, len(t) - 3)]
        |    ELSE [array_to_string(t, ' ')] END)) AS es
        |  FROM evt
        |), d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |    THEN text || ' the secret holdout benchmark sentence for contamination screening'
        |    ELSE text END AS text
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t FROM d
        |), dsh AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] FOR i IN range(1, len(t) - 3)]
        |    ELSE [array_to_string(t, ' ')] END AS s
        |  FROM dt
        |)
        |SELECT doc_id FROM dsh, evsh WHERE NOT list_has_any(s, es)""".stripMargin,

    "q_band_index" ->
      """SELECT doc_id FROM documents WHERE doc_id % 4 = 3""".stripMargin,

    "q_stream_corpus_near" ->
      """SELECT doc_id FROM documents WHERE doc_id % 2 = 1""".stripMargin,

    "q_stream_minhash" ->
      """SELECT doc_id FROM documents""".stripMargin,

    "q_connected_components" ->
      """SELECT doc_id AS id, doc_id - doc_id % 8 AS component FROM documents""".stripMargin,

    "q_bm25" -> Bm25OracleSql,

    // df per term over the planted corpus, replayed with the same
    // tokenizer; postings = DISTINCT (term, doc) pairs, so df and
    // the corpus fractions are exact
    "q_bm25_overflow" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' zzhotterm' || (CASE WHEN doc_id % 10 = 0 THEN ' zzrareterm' ELSE '' END) AS text
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks FROM d
        |), post AS (
        |  SELECT DISTINCT doc_id, unnest(toks) AS term FROM f
        |), stats AS (SELECT count(*)::DOUBLE AS n_docs FROM documents
        |), tot AS (SELECT count(*)::DOUBLE AS total FROM post
        |), dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term)
        |SELECT term, df,
        |  floor(df / s.n_docs * 1000000 + 0.5) / 1000000 AS df_frac,
        |  floor(df / t.total * 1000000 + 0.5) / 1000000 AS postings_share
        |FROM dfreq CROSS JOIN stats s CROSS JOIN tot t
        |WHERE df >= 0.5 * s.n_docs""".stripMargin,

    // same postings/df/stats machinery as BM25 with the sublinear
    // smoothed-idf weight replayed term by term
    "q_tfidf" ->
      """WITH f AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n_docs FROM documents
        |), post AS (
        |  SELECT doc_id, unnest(toks) AS term FROM f
        |), tf AS (
        |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM post
        |  WHERE term IN ('vector', 'hash', 'stream', 'window') GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id,
        |    floor(sum(
        |      (1.0 + ln(tf.tf)) * (ln((s.n_docs + 1.0) / (d.dfreq + 1.0)) + 1.0)
        |    ) * 1000000 + 0.5) / 1000000 AS score
        |  FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN stats s
        |  GROUP BY tf.doc_id
        |)
        |SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // integer-count PMI: bigram/unigram/total counts replayed with
    // the identical multiply order, one ln per pair on the 1e-9 grid
    "q_collocations" ->
      """WITH f AS (
        |  SELECT [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM f) GROUP BY 1
        |), b0 AS (
        |  SELECT toks, unnest(range(1, len(toks))) AS i FROM f WHERE len(toks) >= 2
        |), bi AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS n_pair
        |  FROM b0 GROUP BY 1, 2 HAVING count(*) >= 5
        |), tot AS (
        |  SELECT CAST(COALESCE(sum(len(toks)), 0) AS BIGINT) AS t_tokens,
        |    CAST(COALESCE(sum(greatest(len(toks) - 1, 0)), 0) AS BIGINT) AS t_bigrams
        |  FROM f
        |)
        |SELECT bi.w1, bi.w2, bi.n_pair,
        |  floor(ln(CAST(bi.n_pair AS DOUBLE) * t.t_tokens * t.t_tokens
        |    / (CAST(t.t_bigrams AS DOUBLE) * u1.c * u2.c)) * 1e9 + 0.5) / 1e9 AS pmi
        |FROM bi
        |JOIN uni u1 ON bi.w1 = u1.w
        |JOIN uni u2 ON bi.w2 = u2.w
        |CROSS JOIN tot t
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,

    "q_bm25_persist" -> Bm25OracleSql,

    "q_bm25_append" -> Bm25OracleSql,

    // fresh-gated-build replay over the truncated+planted corpus:
    // both planted leak terms are gated out (they contribute NOTHING
    // to any score — the query includes them and must not see them),
    // but their tokens still count toward dl/avgdl because `stats`
    // keep the full corpus
    "q_bm25_compact" ->
      """WITH f AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(
        |    lower(array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')
        |      || ' zzhotterm' || CASE WHEN doc_id % 2 = 1 THEN ' zzgrowterm' ELSE '' END),
        |    '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl FROM f
        |), post AS (
        |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM f
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM post
        |  WHERE term IN ('vector', 'hash', 'stream', 'window') GROUP BY doc_id, dl, term
        |), dfreq AS (
        |  SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id,
        |    floor(sum(
        |      ln(1.0 + (s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5)) * (tf.tf * 2.2)
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
        |    ) * 1000000 + 0.5) / 1000000 AS score
        |  FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN stats s
        |  GROUP BY tf.doc_id
        |)
        |SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_zorder" -> ZorderOracleSql,

    "q_lm_score" ->
      """WITH f AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END AS w1, w2
        |  FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i, unnest(toks) AS w2 FROM f)
        |), cnt AS (
        |  SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2
        |), ctx AS (
        |  SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY w1
        |), v AS (
        |  SELECT count(DISTINCT w2)::DOUBLE AS vsz FROM cnt
        |)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  floor((-sum(ln((cnt.c12::DOUBLE + 0.5) / (ctx.c1::DOUBLE + 0.5 * v.vsz))) / count(*)) * 1000000 + 0.5) / 1000000 AS nll
        |FROM b JOIN cnt ON b.w1 = cnt.w1 AND b.w2 = cnt.w2 JOIN ctx ON b.w1 = ctx.w1 CROSS JOIN v
        |GROUP BY b.doc_id""".stripMargin,

    "q_kmeans" ->
      """WITH pts AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM pts
        |), c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, v
        |  FROM pts QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
        |), c0d AS (
        |  SELECT c, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM c0
        |), a1 AS (
        |  SELECT vec_id, c FROM (
        |    SELECT p.vec_id, c0d.c, sum((p.x - c0d.x) * (p.x - c0d.x)) AS dist2,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY sum((p.x - c0d.x) * (p.x - c0d.x)), c0d.c) AS rn
        |    FROM p JOIN c0d ON p.d = c0d.d GROUP BY p.vec_id, c0d.c
        |  ) WHERE rn = 1
        |), m1 AS (
        |  SELECT c0d.c, c0d.d, coalesce(floor(u.m * 1000000000 + 0.5) / 1000000000, c0d.x) AS x
        |  FROM c0d LEFT JOIN (
        |    SELECT a1.c, p.d, avg(p.x) AS m
        |    FROM a1 JOIN p ON a1.vec_id = p.vec_id GROUP BY a1.c, p.d
        |  ) u ON c0d.c = u.c AND c0d.d = u.d
        |), a2 AS (
        |  SELECT vec_id, c FROM (
        |    SELECT p.vec_id, m1.c, sum((p.x - m1.x) * (p.x - m1.x)) AS dist2,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY sum((p.x - m1.x) * (p.x - m1.x)), m1.c) AS rn
        |    FROM p JOIN m1 ON p.d = m1.d GROUP BY p.vec_id, m1.c
        |  ) WHERE rn = 1
        |), m2 AS (
        |  SELECT m1.c, m1.d, coalesce(floor(u.m * 1000000000 + 0.5) / 1000000000, m1.x) AS x
        |  FROM m1 LEFT JOIN (
        |    SELECT a2.c, p.d, avg(p.x) AS m
        |    FROM a2 JOIN p ON a2.vec_id = p.vec_id GROUP BY a2.c, p.d
        |  ) u ON m1.c = u.c AND m1.d = u.d
        |)
        |SELECT vec_id, c AS cluster, floor(dist2 * 1000000 + 0.5) / 1000000 AS dist2 FROM (
        |  SELECT p.vec_id, m2.c, sum((p.x - m2.x) * (p.x - m2.x)) AS dist2,
        |    row_number() OVER (PARTITION BY p.vec_id
        |      ORDER BY sum((p.x - m2.x) * (p.x - m2.x)), m2.c) AS rn
        |  FROM p JOIN m2 ON p.d = m2.d GROUP BY p.vec_id, m2.c
        |) WHERE rn = 1""".stripMargin,

    "q_alpha_div" ->
      """WITH m AS (
        |  SELECT l_orderkey AS sample, l_partkey AS feature, sum(CAST(l_quantity AS DOUBLE)) AS v
        |  FROM lineitem GROUP BY 1, 2 HAVING sum(CAST(l_quantity AS DOUBLE)) > 0
        |)
        |SELECT sample, count(*) AS richness,
        |  floor((ln(sum(v)) - sum(v * ln(v)) / sum(v)) * 1000000 + 0.5) / 1000000 AS shannon,
        |  floor((1.0 - sum(v * v) / (sum(v) * sum(v))) * 1000000 + 0.5) / 1000000 AS simpson
        |FROM m GROUP BY sample""".stripMargin,

    "q_bray_curtis" ->
      """WITH m AS (
        |  SELECT l_orderkey AS s, l_partkey AS f, sum(CAST(l_quantity AS DOUBLE)) AS v
        |  FROM lineitem WHERE l_orderkey <= 200
        |  GROUP BY 1, 2 HAVING sum(CAST(l_quantity AS DOUBLE)) > 0
        |), tot AS (
        |  SELECT s, sum(v) AS t FROM m GROUP BY s
        |), shared AS (
        |  SELECT a.s AS sample_a, b.s AS sample_b,
        |    sum(abs(a.v - b.v)) AS sd, sum(a.v) AS sa, sum(b.v) AS sb
        |  FROM m a JOIN m b ON a.f = b.f AND a.s < b.s GROUP BY 1, 2
        |)
        |SELECT ta.s AS sample_a, tb.s AS sample_b,
        |  floor((coalesce(sd, 0) + (ta.t - coalesce(sa, 0)) + (tb.t - coalesce(sb, 0)))
        |        / (ta.t + tb.t) * 1000000 + 0.5) / 1000000 AS bray_curtis
        |FROM tot ta JOIN tot tb ON ta.s < tb.s
        |LEFT JOIN shared ON shared.sample_a = ta.s AND shared.sample_b = tb.s""".stripMargin,

    "q_quantile_norm" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_extendedprice, l_linenumber) AS rn
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber,
        |  floor(avg(l_extendedprice) OVER (PARTITION BY rn) * 1000000 + 0.5) / 1000000 AS qnorm
        |FROM r""".stripMargin,

    // same chunking CTE as q_chunk, over the twin-union fixture,
    // then global first-occurrence by (doc_id, chunk_id)
    "q_para_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 2 = 0
        |), t AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t
        |  FROM d
        |), k AS (
        |  SELECT doc_id, t, (greatest(len(t) - 50, 0) + 39) // 40 AS kk FROM t
        |), ch AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    array_to_string(t[i*40+1 : i*40+50], ' ') AS chunk_text
        |  FROM k, UNNEST(generate_series(0, kk)) AS u(i)
        |), f AS (
        |  SELECT doc_id, chunk_id, chunk_text,
        |    row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
        |  FROM ch
        |)
        |SELECT doc_id, chunk_id, md5(chunk_text) AS chunk_md5 FROM f WHERE rn = 1""".stripMargin,

    // BM25 top-50 (same CTEs as Bm25OracleSql) ∪ cosine top-50 for
    // query vector 0 (same rounding discipline as q_knn_brute),
    // fused by Σ 1/(60 + rank)
    "q_rrf_fusion" ->
      """WITH f AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
        |  FROM documents
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl FROM f
        |), post AS (
        |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM f
        |), tf AS (
        |  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM post
        |  WHERE term IN ('vector', 'hash', 'stream', 'window') GROUP BY doc_id, dl, term
        |), dfreq AS (
        |  SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id,
        |    floor(sum(
        |      ln(1.0 + (s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5)) * (tf.tf * 2.2)
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
        |    ) * 1000000 + 0.5) / 1000000 AS score
        |  FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN stats s
        |  GROUP BY tf.doc_id
        |), lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 50
        |), densescored AS (
        |  SELECT c.vec_id AS doc_id,
        |    floor(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) * 1000000 + 0.5) / 1000000 AS cosine
        |  FROM embeddings q JOIN embeddings c ON q.vec_id = 0 AND c.vec_id <> 0
        |), dense AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
        |    FROM densescored
        |  ) WHERE rank <= 50
        |), u AS (
        |  SELECT doc_id, 1.0 / (60.0 + rank) AS rr FROM lex
        |  UNION ALL
        |  SELECT doc_id, 1.0 / (60.0 + rank) AS rr FROM dense
        |), fused AS (
        |  SELECT doc_id, floor(sum(rr) * 1000000 + 0.5) / 1000000 AS score
        |  FROM u GROUP BY doc_id
        |)
        |SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |FROM fused ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // gaps-and-islands at MICROSECOND precision; session_window's
    // merge boundary is INCLUSIVE (an event exactly gap after the
    // session end still merges — verified against the engine), so
    // the break is diff > gap
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id, value FROM events
        |), g AS (
        |  SELECT user_id, t, value,
        |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS brk,
        |    event_id
        |  FROM e
        |), s AS (
        |  SELECT user_id, t, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g
        |)
        |SELECT user_id,
        |  min(t) AS start_us,
        |  max(t) + 1800000000 AS end_us,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 1000000 + 0.5) / 1000000 AS total_value
        |FROM s GROUP BY user_id, sess""".stripMargin,

    "q_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id AS v_user
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin,

    // q_hll's md5-register replay, keyed by the epoch-aligned 3-day
    // tumbling window Spark's window() assigns
    "q_stream_hll" ->
      """WITH h AS (
        |  SELECT (epoch_us(ts) // 259200000000) * 259200000000 AS start_us,
        |    event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM events WHERE user_id IS NOT NULL
        |), idx AS (
        |  SELECT start_us, event_type,
        |    ((instr('0123456789abcdef', substr(h,1,1))-1)*16
        |      + (instr('0123456789abcdef', substr(h,2,1))-1))*16
        |      + (instr('0123456789abcdef', substr(h,3,1))-1) AS reg_idx,
        |    substr(h,4,13) AS rest
        |  FROM h
        |), rk AS (
        |  SELECT start_us, event_type, reg_idx,
        |    length(regexp_extract(rest, '^(0*)', 1)) AS z,
        |    instr('0123456789abcdef',
        |      substr(rest, length(regexp_extract(rest, '^(0*)', 1))+1, 1))-1 AS d
        |  FROM idx
        |), regs AS (
        |  SELECT start_us, event_type, reg_idx,
        |    max(CASE WHEN z = 13 THEN 53
        |        ELSE z*4 + (CASE WHEN d >= 8 THEN 0 WHEN d >= 4 THEN 1
        |                         WHEN d >= 2 THEN 2 ELSE 3 END) + 1 END) AS m
        |  FROM rk GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT start_us, event_type, count(*) AS registers_hit,
        |    sum(CAST(pow(2.0, 53 - m) AS HUGEINT)) AS s
        |  FROM regs GROUP BY 1, 2
        |), est AS (
        |  SELECT start_us, event_type, registers_hit, 4096 - registers_hit AS v,
        |    0.7213/(1.0 + 1.079/4096.0) * 4096.0 * 4096.0 * 9007199254740992.0
        |      / CAST(s + CAST(4096 - registers_hit AS HUGEINT)
        |                 * CAST(9007199254740992 AS HUGEINT) AS DOUBLE) AS raw
        |  FROM agg
        |)
        |SELECT start_us, event_type,
        |  floor((CASE WHEN raw <= 10240.0 AND v > 0
        |              THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
        |              ELSE raw END) * 1000000 + 0.5)/1000000 AS hll_est,
        |  registers_hit
        |FROM est""".stripMargin,

    "q_cms" ->
      """WITH items AS (
        |  SELECT l_returnflag AS g, l_suppkey AS x FROM lineitem WHERE l_suppkey IS NOT NULL
        |), hx AS (
        |  SELECT g, x, j,
        |    ((((instr('0123456789abcdef', substr(h,1,1))-1)*16
        |      + (instr('0123456789abcdef', substr(h,2,1))-1))*16
        |      + (instr('0123456789abcdef', substr(h,3,1))-1))*16
        |      + (instr('0123456789abcdef', substr(h,4,1))-1)) % 2048 AS bucket
        |  FROM (SELECT g, x, j, md5(CAST(j AS VARCHAR) || ':' || CAST(x AS VARCHAR)) AS h
        |        FROM items CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
        |), sk AS (
        |  SELECT g, j, bucket, count(*) AS cnt FROM hx GROUP BY 1, 2, 3
        |), probes AS (
        |  SELECT g, x, count(*) AS n_true FROM items GROUP BY 1, 2
        |), pb AS (
        |  SELECT p.g, p.x, p.n_true, h.j, h.bucket
        |  FROM probes p JOIN (SELECT DISTINCT g, x, j, bucket FROM hx) h
        |    ON p.g = h.g AND p.x = h.x
        |)
        |SELECT pb.g AS l_returnflag, pb.x AS l_suppkey, pb.n_true,
        |  min(coalesce(sk.cnt, 0)) AS cms_est
        |FROM pb LEFT JOIN sk
        |  ON pb.g = sk.g AND pb.j = sk.j AND pb.bucket = sk.bucket
        |GROUP BY 1, 2, 3""".stripMargin,

    // md5-register HLL replayed digit-by-digit; the harmonic sum is
    // the exact integer Σ 2^(53−M) in HUGEINT (summation-order-proof),
    // constants multiplied in the same left-assoc order as the Scala
    "q_hll" ->
      """WITH h AS (
        |  SELECT l_returnflag AS grp, md5(CAST(l_orderkey AS VARCHAR)) AS h
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |), idx AS (
        |  SELECT grp,
        |    ((instr('0123456789abcdef', substr(h,1,1))-1)*16
        |      + (instr('0123456789abcdef', substr(h,2,1))-1))*16
        |      + (instr('0123456789abcdef', substr(h,3,1))-1) AS reg_idx,
        |    substr(h,4,13) AS rest
        |  FROM h
        |), rk AS (
        |  SELECT grp, reg_idx,
        |    length(regexp_extract(rest, '^(0*)', 1)) AS z,
        |    instr('0123456789abcdef',
        |      substr(rest, length(regexp_extract(rest, '^(0*)', 1))+1, 1))-1 AS d
        |  FROM idx
        |), regs AS (
        |  SELECT grp, reg_idx,
        |    max(CASE WHEN z = 13 THEN 53
        |        ELSE z*4 + (CASE WHEN d >= 8 THEN 0 WHEN d >= 4 THEN 1
        |                         WHEN d >= 2 THEN 2 ELSE 3 END) + 1 END) AS m
        |  FROM rk GROUP BY 1, 2
        |), agg AS (
        |  SELECT grp, count(*) AS registers_hit,
        |    sum(CAST(pow(2.0, 53 - m) AS HUGEINT)) AS s
        |  FROM regs GROUP BY grp
        |), est AS (
        |  SELECT grp, registers_hit, 4096 - registers_hit AS v,
        |    0.7213/(1.0 + 1.079/4096.0) * 4096.0 * 4096.0 * 9007199254740992.0
        |      / CAST(s + CAST(4096 - registers_hit AS HUGEINT)
        |                 * CAST(9007199254740992 AS HUGEINT) AS DOUBLE) AS raw
        |  FROM agg
        |)
        |SELECT grp AS l_returnflag,
        |  floor((CASE WHEN raw <= 10240.0 AND v > 0
        |              THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
        |              ELSE raw END) * 1000000 + 0.5)/1000000 AS hll_est,
        |  registers_hit
        |FROM est""".stripMargin,

    // 3 unrolled damped power iterations; ranks snap to the 1e-9
    // grid each round on BOTH sides, so float sum-order noise
    // (~1e-17) can never survive a round boundary
    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, floor((1.0/n)*1000000000 + 0.5)/1000000000 AS rank
        |       FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS cn, sum(r.rank/od.deg) AS contrib
        |       FROM e JOIN od ON e.src = od.src JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |d1 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r0
        |       WHERE node NOT IN (SELECT src FROM e)),
        |r1 AS (SELECT nodes.node,
        |         floor(((1.0-0.85)/n + 0.85*(coalesce(contrib, 0.0) + dm/n))
        |               *1000000000 + 0.5)/1000000000 AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d1 LEFT JOIN c1 ON c1.cn = nodes.node),
        |c2 AS (SELECT e.dst AS cn, sum(r.rank/od.deg) AS contrib
        |       FROM e JOIN od ON e.src = od.src JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |d2 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r1
        |       WHERE node NOT IN (SELECT src FROM e)),
        |r2 AS (SELECT nodes.node,
        |         floor(((1.0-0.85)/n + 0.85*(coalesce(contrib, 0.0) + dm/n))
        |               *1000000000 + 0.5)/1000000000 AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d2 LEFT JOIN c2 ON c2.cn = nodes.node),
        |c3 AS (SELECT e.dst AS cn, sum(r.rank/od.deg) AS contrib
        |       FROM e JOIN od ON e.src = od.src JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |d3 AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r2
        |       WHERE node NOT IN (SELECT src FROM e)),
        |r3 AS (SELECT nodes.node,
        |         floor(((1.0-0.85)/n + 0.85*(coalesce(contrib, 0.0) + dm/n))
        |               *1000000000 + 0.5)/1000000000 AS rank
        |       FROM nodes CROSS JOIN nn CROSS JOIN d3 LEFT JOIN c3 ON c3.cn = nodes.node)
        |SELECT node, rank FROM r3""".stripMargin,

    // latest-version-wins merge of the orders-derived changelog into
    // the customer snapshot (snapshot rides as version 0)
    "q_upsert" ->
      """WITH ch AS (
        |  SELECT o_custkey AS c_custkey, 'u#' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey, o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment, o_orderkey AS version,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders
        |), base AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |    CAST(0 AS BIGINT) AS version, 'U' AS op FROM customer
        |), allr AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM ch
        |), rn AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC) AS rn
        |  FROM allr
        |)
        |SELECT c_custkey, c_name, c_nationkey,
        |  floor(c_acctbal*1000000 + 0.5)/1000000 AS c_acctbal, c_mktsegment
        |FROM rn WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // lead() runs over ALL changes (deletes provide the closing
    // boundary), THEN delete rows drop — same order as MergeOps.scd2
    "q_scd2" ->
      """WITH ch AS (
        |  SELECT o_custkey AS c_custkey, o_totalprice AS c_acctbal,
        |    o_orderkey AS version,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_custkey <= 100
        |)
        |SELECT c_custkey, c_acctbal, valid_from, valid_to FROM (
        |  SELECT c_custkey, floor(c_acctbal*1000000 + 0.5)/1000000 AS c_acctbal,
        |    version AS valid_from,
        |    lead(version) OVER (PARTITION BY c_custkey ORDER BY version) AS valid_to, op
        |  FROM ch
        |) WHERE op <> 'D'""".stripMargin,

    // identical blocking (prefix-5 equi key + length band) and the
    // same levenshtein gate — DuckDB's levenshtein is the same
    // standard metric as Spark's
    "q_fuzzy_join" ->
      """WITH base AS (
        |  SELECT p_partkey, lpad(CAST(p_partkey AS VARCHAR), 6, '0') || '-' || p_name AS nm
        |  FROM part
        |), l AS (
        |  SELECT p_partkey AS id_l, nm AS nm_l FROM base
        |), r AS (
        |  SELECT p_partkey AS id_r,
        |    CASE WHEN p_partkey % 3 = 0
        |         THEN substr(nm, 1, 9) || substr(nm, 11, 100000) ELSE nm END AS nm_r
        |  FROM base
        |)
        |SELECT id_l, id_r, levenshtein(nm_l, nm_r) AS edit_dist
        |FROM l JOIN r ON substr(nm_l, 1, 5) = substr(nm_r, 1, 5)
        |  AND abs(length(nm_l) - length(nm_r)) <= 1
        |WHERE levenshtein(nm_l, nm_r) <= 1""".stripMargin,

    // six conditional counters per language, snapped rates, maxima
    // as window aggregates over the tiny frame
    "q_fairness" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(doc_id * 2654435761 % 1000 AS DOUBLE) / 1000.0 AS score,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS lbl
        |  FROM documents WHERE lang IS NOT NULL
        |), a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS sel,
        |    CAST(sum(CASE WHEN lbl = 1 AND score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN lbl = 1 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN lbl = 0 AND score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN lbl = 0 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM d GROUP BY lang
        |), r AS (
        |  SELECT *,
        |    floor(CAST(sel AS DOUBLE) / n * 1e9 + 0.5) / 1e9 AS sel_rate,
        |    CASE WHEN tp + fn > 0 THEN
        |      floor(CAST(tp AS DOUBLE) / (tp + fn) * 1e9 + 0.5) / 1e9 END AS tpr,
        |    CASE WHEN fp + tn > 0 THEN
        |      floor(CAST(fp AS DOUBLE) / (fp + tn) * 1e9 + 0.5) / 1e9 END AS fpr
        |  FROM a
        |), m AS (
        |  SELECT *, max(sel_rate) OVER () AS mx_sel, max(tpr) OVER () AS mx_tpr FROM r
        |)
        |SELECT lang, n, sel, tp, fn, fp, tn, sel_rate, tpr, fpr,
        |  CASE WHEN mx_sel > 0 THEN floor(sel_rate / mx_sel * 1e9 + 0.5) / 1e9 END AS di_ratio,
        |  CASE WHEN tpr IS NOT NULL AND mx_tpr IS NOT NULL THEN
        |    floor((mx_tpr - tpr) * 1e9 + 0.5) / 1e9 END AS eq_opp_gap
        |FROM m""".stripMargin,

    // token-window replay of the keep-first span scrub: same
    // whitespace split, same (doc_id, pos) first-site rule; DuckDB
    // keys windows by their joined STRING where Spark keys by
    // xxhash64 — identical absent 64-bit collisions. coalesce('')
    // because DuckDB's array_to_string(NULL-empty list) is NULL
    // where Spark's concat_ws is ''.
    "q_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(coalesce(text,'')), '\s+') AS tk
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, u.gs AS pos0, array_to_string(tk[u.gs+1 : u.gs+5], chr(1)) AS w
        |  FROM t, UNNEST(CASE WHEN len(tk) >= 5 THEN range(0, len(tk)-4) ELSE [] END) AS u(gs)
        |), d AS (
        |  SELECT doc_id, pos0 FROM (
        |    SELECT doc_id, pos0,
        |      row_number() OVER (PARTITION BY w ORDER BY doc_id, pos0) AS rn,
        |      count(*) OVER (PARTITION BY w) AS c
        |    FROM s)
        |  WHERE c > 1 AND rn > 1
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos0 + u.o AS i
        |  FROM d, UNNEST(range(0, 5)) AS u(o)
        |), a AS (
        |  SELECT doc_id, list(i) AS cv FROM cov GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(1, len(tk)+1), i -> a.cv IS NULL OR NOT list_contains(a.cv, i-1)),
        |    i -> tk[i]), ' '), '') AS text_clean,
        |  CASE WHEN a.cv IS NULL THEN 0 ELSE len(a.cv) END AS removed_tokens
        |FROM t LEFT JOIN a USING (doc_id)""".stripMargin,

    // true 3-gram set difference (same tokenizer + short-doc
    // whole-window rule as the Spark shingle hashes)
    "q_novelty" ->
      """WITH dt AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3
        |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
        |    ELSE [array_to_string(t, ' ')] END AS s
        |  FROM dt
        |), ref AS (
        |  SELECT DISTINCT unnest(s) AS gr FROM g WHERE doc_id % 2 = 0
        |), doc AS (
        |  SELECT doc_id, unnest(list_distinct(s)) AS gr FROM g WHERE doc_id % 2 = 1
        |), j AS (
        |  SELECT d.doc_id, CASE WHEN r.gr IS NULL THEN 1 ELSE 0 END AS nov
        |  FROM doc d LEFT JOIN ref r ON d.gr = r.gr
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |  CAST(sum(nov) AS BIGINT) AS novel,
        |  floor(CAST(sum(nov) AS DOUBLE) / count(*) * 1e9 + 0.5) / 1e9 AS novelty
        |FROM j GROUP BY doc_id""".stripMargin,

    // distinct user-day frame, 28-offset fan-out, observed-day
    // clamp, filtered count-distincts
    "q_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), obs AS (
        |  SELECT DISTINCT d AS day FROM ud
        |), fan AS (
        |  SELECT d + CAST(o AS INTEGER) AS day, u, o
        |  FROM ud CROSS JOIN (SELECT unnest(range(28)) AS o)
        |), a AS (
        |  SELECT day,
        |    CAST(count(DISTINCT CASE WHEN o < 1 THEN u END) AS BIGINT) AS au_1,
        |    CAST(count(DISTINCT CASE WHEN o < 7 THEN u END) AS BIGINT) AS au_7,
        |    CAST(count(DISTINCT u) AS BIGINT) AS au_28
        |  FROM fan JOIN obs USING (day) GROUP BY day
        |)
        |SELECT day, au_1, au_7, au_28,
        |  CASE WHEN au_28 > 0 THEN floor(CAST(au_1 AS DOUBLE) / au_28 * 1e9 + 0.5) / 1e9 END
        |    AS stickiness
        |FROM a""".stripMargin,

    // user-keyed join + lookback bound, per-conversion windows,
    // snapped 1/n terms then a snapped sum
    "q_attribution" ->
      """WITH c AS (
        |  SELECT user_id AS k, ts AS cts, event_id AS cid FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
        |), tt AS (
        |  SELECT user_id AS k, ts AS tts, event_id AS tid, event_type AS channel FROM events
        |  WHERE event_type IN ('view', 'click', 'signup')
        |    AND user_id IS NOT NULL AND ts IS NOT NULL
        |), j AS (
        |  SELECT * FROM c JOIN tt USING (k)
        |  WHERE tts <= cts AND tts >= cts - (259200 * INTERVAL 1 SECOND)
        |), r AS (
        |  SELECT *, count(*) OVER (PARTITION BY cid) AS n,
        |    row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rf,
        |    row_number() OVER (PARTITION BY cid ORDER BY tts DESC, tid DESC) AS rl
        |  FROM j
        |)
        |SELECT channel, CAST(count(DISTINCT cid) AS BIGINT) AS convs_touched,
        |  CAST(count(*) AS BIGINT) AS touches,
        |  CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
        |  CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
        |  floor(sum(floor(1.0 / n * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9 AS linear_credit
        |FROM r GROUP BY channel""".stripMargin,

    // recursive replay of the snapped triple-smoothing fixed point
    "q_holt_winters" -> holtWintersOracleSql,

    // the streamed run replays the identical recursion (the
    // processor is bit-identical to the batch scan)
    "q_stream_hw" -> holtWintersOracleSql,

    // position self-join at bounded lags + snapped-means Pearson
    "q_autocorr" ->
      """WITH p AS (
        |  SELECT user_id, value AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL
        |), l AS (
        |  SELECT user_id, x AS x0, rn + o AS tr, o AS lag
        |  FROM p CROSS JOIN (SELECT unnest(range(1, 6)) AS o)
        |), j AS (
        |  SELECT l.user_id, l.lag, l.x0, p.x AS x1
        |  FROM l JOIN p ON p.user_id = l.user_id AND p.rn = l.tr
        |), a AS (
        |  SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    floor(avg(x0) * 1e9 + 0.5) / 1e9 AS mx, floor(avg(x1) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg(x0 * x0) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(x1 * x1) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg(x0 * x1) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM j GROUP BY 1, 2
        |), c AS (
        |  SELECT user_id, lag, n_pairs,
        |    floor((mxy - mx * my) * 1e9 + 0.5) / 1e9 AS cov,
        |    floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 AS vx,
        |    floor((myy - my * my) * 1e9 + 0.5) / 1e9 AS vy
        |  FROM a
        |)
        |SELECT user_id, lag, n_pairs,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    floor(cov / sqrt(vx * vy) * 1e9 + 0.5) / 1e9 END AS acf
        |FROM c""".stripMargin,

    // bigram multisets with multiplicity, min-clipped overlap,
    // BLEU-style null for gram-less texts
    "q_ngram_prf" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 7 = 0 THEN 'a wholly unrelated reference text'
        |         WHEN doc_id % 3 = 0 THEN 'extra leading words ' || text
        |         ELSE text END AS ref
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id,
        |    [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS tc,
        |    [x FOR x IN string_split_regex(lower(ref), '[^\p{L}\p{N}]+') IF x <> ''] AS tr
        |  FROM d
        |), gr AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tc) >= 2 THEN [tc[i] || ' ' || tc[i+1] FOR i IN range(1, len(tc))]
        |         ELSE [] END AS gc,
        |    CASE WHEN len(tr) >= 2 THEN [tr[i] || ' ' || tr[i+1] FOR i IN range(1, len(tr))]
        |         ELSE [] END AS gre
        |  FROM tok
        |), cc AS (
        |  SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(gc) AS g FROM gr)
        |  GROUP BY 1, 2
        |), rc AS (
        |  SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(gre) AS g FROM gr)
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT coalesce(cc.doc_id, rc.doc_id) AS doc_id,
        |    coalesce(cc.c, 0) AS ccnt, coalesce(rc.c, 0) AS rcnt
        |  FROM cc FULL OUTER JOIN rc ON cc.doc_id = rc.doc_id AND cc.g = rc.g
        |), a AS (
        |  SELECT doc_id, CAST(sum(ccnt) AS BIGINT) AS cand_grams,
        |    CAST(sum(rcnt) AS BIGINT) AS ref_grams,
        |    CAST(sum(least(ccnt, rcnt)) AS BIGINT) AS overlap
        |  FROM j GROUP BY 1
        |), full_ids AS (
        |  SELECT doc_id, coalesce(cand_grams, 0) AS cand_grams,
        |    coalesce(ref_grams, 0) AS ref_grams, coalesce(overlap, 0) AS overlap
        |  FROM (SELECT DISTINCT doc_id FROM documents) LEFT JOIN a USING (doc_id)
        |), m AS (
        |  SELECT doc_id, cand_grams, ref_grams, overlap,
        |    CASE WHEN cand_grams > 0 THEN
        |      floor(CAST(overlap AS DOUBLE) / cand_grams * 1e9 + 0.5) / 1e9 END AS precision,
        |    CASE WHEN ref_grams > 0 THEN
        |      floor(CAST(overlap AS DOUBLE) / ref_grams * 1e9 + 0.5) / 1e9 END AS recall
        |  FROM full_ids
        |)
        |SELECT doc_id, cand_grams, ref_grams, overlap, precision, recall,
        |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
        |    AND precision + recall > 0 THEN
        |    floor(2.0 * precision * recall / (precision + recall) * 1e9 + 0.5) / 1e9
        |  END AS f1
        |FROM m""".stripMargin,

    // bucket = exact integer µs division; open/close replayed via
    // asc/desc row_number over the same (ts, event_id) order
    "q_bars" -> barsOracleSql,

    // the streamed daily window is epoch-aligned, so the identical
    // bucket replay grades the streamed run
    "q_stream_bars" -> barsOracleSql,

    // daily md5 registers, 28-day fan-out, register-wise max per
    // window, the C19 harmonic estimate per day
    "q_active_hll" -> rollingHllOracleSql,

    // calendar-period collapse + lag over the periods frame
    "q_pop" ->
      """WITH a AS (
        |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS period,
        |    CAST(count(*) AS BIGINT) AS n,
        |    floor(sum(value) * 1e9 + 0.5) / 1e9 AS total
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), l AS (
        |  SELECT *,
        |    lag(period) OVER (PARTITION BY event_type ORDER BY period) AS prev_period,
        |    lag(total) OVER (PARTITION BY event_type ORDER BY period) AS prev_total
        |  FROM a
        |)
        |SELECT event_type, period, n, total, prev_period, prev_total,
        |  CASE WHEN prev_total IS NOT NULL THEN
        |    floor((total - prev_total) * 1e9 + 0.5) / 1e9 END AS delta,
        |  CASE WHEN prev_total IS NOT NULL AND prev_total <> 0 THEN
        |    floor((total - prev_total) / abs(prev_total) * 1e9 + 0.5) / 1e9 END AS pct_change
        |FROM l""".stripMargin,

    // full-outer key join + IS DISTINCT FROM column compare, the
    // changed-column list in the same fixed order
    "q_snapshot_diff" ->
      """WITH n AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 11 = 0
        |), j AS (
        |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
        |    o.c_custkey IS NOT NULL AS in_old, n.c_custkey IS NOT NULL AS in_new,
        |    o.c_acctbal AS oa, n.c_acctbal AS na,
        |    o.c_mktsegment AS om, n.c_mktsegment AS nm
        |  FROM customer o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
        |), s AS (
        |  SELECT *, concat_ws(',',
        |    CASE WHEN in_old AND in_new AND oa IS DISTINCT FROM na THEN 'c_acctbal' END,
        |    CASE WHEN in_old AND in_new AND om IS DISTINCT FROM nm THEN 'c_mktsegment' END) AS cl
        |  FROM j
        |)
        |SELECT c_custkey,
        |  CASE WHEN NOT in_old THEN 'added' WHEN NOT in_new THEN 'removed'
        |       WHEN cl <> '' THEN 'changed' ELSE 'unchanged' END AS status,
        |  CASE WHEN in_old AND in_new AND cl <> '' THEN cl END AS changed_cols,
        |  floor(oa * 1e6 + 0.5) / 1e6 AS old_c_acctbal,
        |  floor(na * 1e6 + 0.5) / 1e6 AS new_c_acctbal,
        |  om AS old_c_mktsegment, nm AS new_c_mktsegment
        |FROM s WHERE NOT (in_old AND in_new AND cl = '')""".stripMargin,

    // one conditional counter per row-level check + a groupBy for
    // uniqueness; same literal check names
    "q_quality_checks" ->
      """WITH base AS (SELECT * FROM orders), u AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(sum(c - 1) AS BIGINT) AS violations
        |  FROM (SELECT count(*) AS c FROM base GROUP BY o_orderkey)
        |), rpt AS (
        |  SELECT 'not_null(o_custkey)' AS "check", CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM base
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice,0.0,300000.0)', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0.0 OR o_totalprice > 300000.0) THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM base
        |  UNION ALL
        |  SELECT 'in_set(o_orderstatus)', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM base
        |  UNION ALL
        |  SELECT 'matches(o_orderpriority)', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
        |      AND NOT regexp_full_match(o_orderpriority, '([1-5]-[A-Z]+)')
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM base
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)', n_rows, violations FROM u
        |)
        |SELECT "check", n_rows, violations,
        |  CASE WHEN n_rows > 0 THEN
        |    floor(CAST(violations AS DOUBLE) / n_rows * 1e9 + 0.5) / 1e9 ELSE 0.0 END
        |    AS violation_rate,
        |  CASE WHEN (CASE WHEN n_rows > 0 THEN
        |    floor(CAST(violations AS DOUBLE) / n_rows * 1e9 + 0.5) / 1e9 ELSE 0.0 END) <= 0.0
        |    THEN 1 ELSE 0 END AS passed
        |FROM rpt""".stripMargin,

    // exact type-7 cutoff replayed from integer counts over the
    // DISTINCT-µs frame (the q_outliers interpolation expression —
    // never quantile_cont, whose formula is the engine's choice);
    // ties → train, null ts → test
    "q_temporal_split" ->
      """WITH counts AS (
        |  SELECT CAST(epoch_us(ts) // 1000000 AS DOUBLE) AS v, count(*) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1
        |), staged AS (
        |  SELECT v, c,
        |    sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc,
        |    sum(c) OVER () AS n
        |  FROM counts
        |), q AS (
        |  SELECT
        |    max(CASE WHEN cumc - c <= floor((n - 1) * 0.8)
        |             AND floor((n - 1) * 0.8) < cumc THEN v END) AS vlo,
        |    max(CASE WHEN cumc - c <= ceil((n - 1) * 0.8)
        |             AND ceil((n - 1) * 0.8) < cumc THEN v END) AS vhi,
        |    max((n - 1) * 0.8) AS h
        |  FROM staged
        |), cut AS (
        |  SELECT vlo + (h - floor(h)) * (vhi - vlo) AS cut FROM q
        |)
        |SELECT event_id,
        |  CASE WHEN CAST(epoch_us(ts) // 1000000 AS DOUBLE) <= cut
        |       THEN 'train' ELSE 'test' END AS split
        |FROM events, cut""".stripMargin,

    // centered 5-point MA + phase means + centering, identical snap
    // points at every derived value
    "q_seasonal_decomp" ->
      """WITH b AS (
        |  SELECT user_id, event_id, value,
        |    (row_number() OVER wk - 1) % 4 AS phase,
        |    CASE WHEN count(*) OVER wma = 5 THEN
        |      floor(avg(value) OVER wma * 1e9 + 0.5) / 1e9 END AS trend
        |  FROM events WHERE value IS NOT NULL
        |  WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id),
        |    wma AS (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |), d AS (
        |  SELECT *, value - trend AS detr FROM b
        |), p AS (
        |  SELECT user_id, phase,
        |    floor(CAST(sum(CAST(floor(detr * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / count(*) + 0.5) / 1e9 AS raw
        |  FROM d WHERE detr IS NOT NULL GROUP BY 1, 2
        |), ctr AS (
        |  SELECT user_id,
        |    floor(CAST(sum(CAST(floor(raw * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / count(*) + 0.5) / 1e9 AS adj
        |  FROM p GROUP BY 1
        |), s AS (
        |  SELECT p.user_id, phase, floor((raw - adj) * 1e9 + 0.5) / 1e9 AS seasonal
        |  FROM p JOIN ctr USING (user_id)
        |)
        |SELECT d.event_id, d.user_id, d.phase, d.trend, s.seasonal,
        |  CASE WHEN d.trend IS NOT NULL AND s.seasonal IS NOT NULL THEN
        |    floor((d.value - d.trend - s.seasonal) * 1e9 + 0.5) / 1e9 END AS residual
        |FROM d LEFT JOIN s ON s.user_id = d.user_id AND s.phase = d.phase""".stripMargin,

    // Blom ranks + the generated Moro-probit Horner chains
    "q_int_transform" -> intOracleSql,

    // the whole chain in one replay: X2 formula → quantile_cont
    // gate → first-occurrence dedup → per-source rates + the
    // portable coin
    "q_curation_pipeline" ->
      """WITH f AS (
        |  SELECT doc_id, source, text,
        |    [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks,
        |    greatest(length(text), 1)::DOUBLE AS nchar
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, source, text,
        |    list_sum([length(x) FOR x IN toks])::DOUBLE / greatest(len(toks), 1) AS mwl,
        |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / nchar AS pd,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / nchar AS dd,
        |    len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS ur,
        |    CASE WHEN len(toks) >= 5 AND len(toks) <= 100000 THEN 1.0 ELSE 0.0 END AS lok
        |  FROM f
        |), s AS (
        |  SELECT doc_id, source, text,
        |    floor((0.3 * lok + 0.2 * (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
        |      + 0.2 * (1.0 - least(pd * 5, 1.0)) + 0.1 * (1.0 - least(dd * 5, 1.0)) + 0.2 * ur)
        |      * 1000000 + 0.5) / 1000000 AS quality
        |  FROM g
        |), thr AS (SELECT quantile_cont(quality, 0.5) AS t FROM s),
        |gated AS (SELECT s.* FROM s, thr WHERE quality >= t),
        |dd AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM gated
        |  ) WHERE rn = 1
        |), c AS (
        |  SELECT source, count(*)::DOUBLE AS n FROM dd GROUP BY 1
        |), r AS (
        |  SELECT source,
        |    floor(least(1.0,
        |      0.8 * sum(n) OVER () * (pow(n, 0.5) / sum(pow(n, 0.5)) OVER ()) / n)
        |      * 1000000 + 0.5) / 1000000 AS rate
        |  FROM c
        |)
        |SELECT dd.doc_id, dd.source, dd.quality
        |FROM dd JOIN r ON dd.source IS NOT DISTINCT FROM r.source
        |WHERE (((((dd.doc_id % 999983) + 999983) % 999983) * 480879 % 999983)
        |  * 104729 % 999983)::DOUBLE / 999983.0 < r.rate""".stripMargin,

    // the q_autocorr frame at lags 1..3 + the unrolled Durbin-
    // Levinson closed forms with identical snap points
    "q_pacf" ->
      """WITH p AS (
        |  SELECT user_id, value AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL
        |), l AS (
        |  SELECT user_id, x AS x0, rn + o AS tr, o AS lag
        |  FROM p CROSS JOIN (SELECT unnest(range(1, 4)) AS o)
        |), j AS (
        |  SELECT l.user_id, l.lag, l.x0, p.x AS x1
        |  FROM l JOIN p ON p.user_id = l.user_id AND p.rn = l.tr
        |), a AS (
        |  SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    floor(avg(x0) * 1e9 + 0.5) / 1e9 AS mx, floor(avg(x1) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg(x0 * x0) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(x1 * x1) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg(x0 * x1) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM j GROUP BY 1, 2
        |), c AS (
        |  SELECT user_id, lag, n_pairs,
        |    CASE WHEN floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 > 0
        |         AND floor((myy - my * my) * 1e9 + 0.5) / 1e9 > 0 THEN
        |      floor((floor((mxy - mx * my) * 1e9 + 0.5) / 1e9)
        |        / sqrt((floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9)
        |             * (floor((myy - my * my) * 1e9 + 0.5) / 1e9)) * 1e9 + 0.5) / 1e9
        |    END AS acf
        |  FROM a
        |), pv AS (
        |  SELECT user_id,
        |    max(CASE WHEN lag = 1 THEN acf END) AS a1,
        |    max(CASE WHEN lag = 2 THEN acf END) AS a2,
        |    max(CASE WHEN lag = 3 THEN acf END) AS a3
        |  FROM c GROUP BY 1
        |), d AS (
        |  SELECT user_id, a1, a2, a3,
        |    CASE WHEN a1 IS NOT NULL AND a2 IS NOT NULL AND 1.0 - a1 * a1 <> 0 THEN
        |      floor((a2 - a1 * a1) / (1.0 - a1 * a1) * 1e9 + 0.5) / 1e9 END AS f22
        |  FROM pv
        |), e AS (
        |  SELECT *, CASE WHEN f22 IS NOT NULL THEN
        |    floor((a1 - f22 * a1) * 1e9 + 0.5) / 1e9 END AS f21 FROM d
        |), f AS (
        |  SELECT *, CASE WHEN f21 IS NOT NULL AND a3 IS NOT NULL
        |      AND (1.0 - f21 * a1 - f22 * a2) <> 0 THEN
        |    floor((a3 - f21 * a2 - f22 * a1) / (1.0 - f21 * a1 - f22 * a2) * 1e9 + 0.5) / 1e9
        |  END AS p3 FROM e
        |)
        |SELECT c.user_id, c.lag, c.n_pairs, c.acf,
        |  CASE c.lag WHEN 1 THEN a1 WHEN 2 THEN f22 ELSE p3 END AS pacf
        |FROM c JOIN f ON c.user_id = f.user_id""".stripMargin,

    // the q_chi2 replay wrapped with table dimensions → V
    "q_cramers_v" -> {
      s"""WITH chi AS ($chi2OracleSql),
         |dims AS (
         |  SELECT source, count(DISTINCT lang) AS ka, count(DISTINCT len_hi) AS kb
         |  FROM (SELECT source, lang, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS len_hi
         |        FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL)
         |  GROUP BY 1
         |)
         |SELECT chi.*, CASE WHEN least(ka, kb) - 1 > 0 AND n > 0 THEN
         |  floor(sqrt(chi2 / (CAST(n AS DOUBLE) * (least(ka, kb) - 1))) * 1e9 + 0.5) / 1e9
         |END AS cramers_v
         |FROM chi JOIN dims USING (source)""".stripMargin
    },

    // cluster sizes + exact-reciprocal weights, singletons 1.0
    "q_dedup_weights" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5(substr(text, 1, 30)) AS k FROM documents
        |), cl AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY k) AS cluster_id,
        |    count(*) OVER (PARTITION BY k) AS n
        |  FROM keyed
        |), c2 AS (
        |  SELECT doc_id AS member, cluster_id FROM cl WHERE n > 1
        |), sz AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS s FROM c2 GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CASE WHEN sz.s IS NOT NULL THEN
        |    floor(1.0 / sz.s * 1e9 + 0.5) / 1e9 ELSE 1.0 END AS dedup_weight
        |FROM documents d
        |LEFT JOIN c2 ON d.doc_id = c2.member
        |LEFT JOIN sz ON c2.cluster_id = sz.cluster_id""".stripMargin,

    // full DSIR replay: the identical tokenization, unigram+bigram
    // grams, md5-fold-52 % 512 buckets, add-0.5-smoothed count
    // models over both corpora, per-doc log-ratio sum, 1e-6 snap
    "q_dsir" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    [x FOR x IN string_split_regex(lower(text), '[^\\p{L}\\p{N}]+') IF x <> ''] AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang, unnest(t) AS gr FROM tok
        |  UNION ALL
        |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS gr
        |  FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        |), fx AS (
        |  SELECT doc_id, lang, CAST(($Fold13) % 512 AS INTEGER) AS f
        |  FROM (SELECT doc_id, lang, md5(gr) AS h16 FROM g)
        |), cs AS (
        |  SELECT f, count(*) AS c FROM fx GROUP BY f
        |), ct AS (
        |  SELECT f, count(*) AS c FROM fx WHERE lang = 'en' GROUP BY f
        |), ts AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cs),
        |   tt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM ct),
        |lam AS (
        |  SELECT b.f,
        |    ln((coalesce(ct.c, 0) + 0.5) / (tt.t + 0.5 * 512)) -
        |    ln((coalesce(cs.c, 0) + 0.5) / (ts.t + 0.5 * 512)) AS l
        |  FROM (SELECT unnest(generate_series(0, 511)) AS f) b
        |  LEFT JOIN cs ON b.f = cs.f
        |  LEFT JOIN ct ON b.f = ct.f
        |  CROSS JOIN ts CROSS JOIN tt
        |)
        |SELECT fx.doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |  floor(sum(lam.l) * 1000000 + 0.5) / 1000000 AS dsir_weight
        |FROM fx JOIN lam ON fx.f = lam.f
        |GROUP BY fx.doc_id""".stripMargin,

    // the q_dsir chain + exp + the portable-coin E-S replay
    "q_dsir_select" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    [x FOR x IN string_split_regex(lower(text), '[^\\p{L}\\p{N}]+') IF x <> ''] AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang, unnest(t) AS gr FROM tok
        |  UNION ALL
        |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS gr
        |  FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        |), fx AS (
        |  SELECT doc_id, lang, CAST(($Fold13) % 512 AS INTEGER) AS f
        |  FROM (SELECT doc_id, lang, md5(gr) AS h16 FROM g)
        |), cs AS (
        |  SELECT f, count(*) AS c FROM fx GROUP BY f
        |), ct AS (
        |  SELECT f, count(*) AS c FROM fx WHERE lang = 'en' GROUP BY f
        |), ts AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cs),
        |   tt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM ct),
        |lam AS (
        |  SELECT b.f,
        |    ln((coalesce(ct.c, 0) + 0.5) / (tt.t + 0.5 * 512)) -
        |    ln((coalesce(cs.c, 0) + 0.5) / (ts.t + 0.5 * 512)) AS l
        |  FROM (SELECT unnest(generate_series(0, 511)) AS f) b
        |  LEFT JOIN cs ON b.f = cs.f
        |  LEFT JOIN ct ON b.f = ct.f
        |  CROSS JOIN ts CROSS JOIN tt
        |), w AS (
        |  SELECT fx.doc_id,
        |    floor(sum(lam.l) * 1000000 + 0.5) / 1000000 AS dw
        |  FROM fx JOIN lam ON fx.f = lam.f
        |  GROUP BY fx.doc_id
        |), j AS (
        |  SELECT d.source, w.doc_id, exp(w.dw) AS sw,
        |    (((((w.doc_id % 999983 + 999983) % 999983) * 480879 % 999983) * 104729 % 999983) + 1)::DOUBLE / 999984.0 AS uu
        |  FROM w JOIN documents d ON w.doc_id = d.doc_id
        |)
        |SELECT source, CAST(rk AS BIGINT) AS rank, doc_id FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY ln(uu) / sw DESC, doc_id ASC) AS rk
        |  FROM j)
        |WHERE rk <= 20""".stripMargin,

    // first touch by (ts, id) window, floor-div second latencies,
    // the integer-count type-7 median per channel
    "q_time_to_convert" ->
      """WITH c AS (
        |  SELECT user_id AS k, ts AS cts, event_id AS cid FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
        |), tt AS (
        |  SELECT user_id AS k, ts AS tts, event_id AS tid, event_type AS channel FROM events
        |  WHERE event_type IN ('view', 'click', 'signup')
        |    AND user_id IS NOT NULL AND ts IS NOT NULL
        |), j AS (
        |  SELECT *, row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rf
        |  FROM c JOIN tt USING (k)
        |  WHERE tts <= cts AND tts >= cts - (259200 * INTERVAL 1 SECOND)
        |), f AS (
        |  SELECT cid, channel,
        |    (epoch_us(cts) - epoch_us(tts)) // 1000000 AS latency_s
        |  FROM j WHERE rf = 1
        |), a AS (
        |  SELECT channel, CAST(count(*) AS BIGINT) AS convs,
        |    floor((floor(avg(latency_s) * 1e9 + 0.5) / 1e9) * 1e6 + 0.5) / 1e6 AS mean_s,
        |    min(latency_s) AS min_s, max(latency_s) AS max_s
        |  FROM f GROUP BY 1
        |), counts AS (
        |  SELECT channel, CAST(latency_s AS DOUBLE) AS v, count(*) AS cnt
        |  FROM f GROUP BY 1, 2
        |), staged AS (
        |  SELECT channel, v, cnt,
        |    sum(cnt) OVER (PARTITION BY channel ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc,
        |    sum(cnt) OVER (PARTITION BY channel) AS n
        |  FROM counts
        |), med AS (
        |  SELECT channel,
        |    max(CASE WHEN cumc - cnt <= floor((n - 1) * 0.5)
        |             AND floor((n - 1) * 0.5) < cumc THEN v END) AS vlo,
        |    max(CASE WHEN cumc - cnt <= ceil((n - 1) * 0.5)
        |             AND ceil((n - 1) * 0.5) < cumc THEN v END) AS vhi,
        |    max((n - 1) * 0.5) AS h
        |  FROM staged GROUP BY 1
        |), m2 AS (
        |  SELECT channel, vlo + (h - floor(h)) * (vhi - vlo) AS median_s FROM med
        |)
        |SELECT a.channel, convs, mean_s, min_s, max_s, median_s
        |FROM a LEFT JOIN m2 ON a.channel = m2.channel""".stripMargin,

    // epoch-aligned daily counters + the identical Wilson chain
    "q_stream_rate" ->
      """WITH w AS (
        |  SELECT make_timestamp(((epoch_us(ts) // 1000000) // 86400) * 86400 * 1000000)
        |    AS window_start,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl
        |  FROM events WHERE ts IS NOT NULL
        |), a AS (
        |  SELECT window_start, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(lbl) AS BIGINT) AS k
        |  FROM w GROUP BY 1
        |), b AS (
        |  SELECT *, floor(CAST(k AS DOUBLE) / n * 1e9 + 0.5) / 1e9 AS p,
        |    floor((1.0 + 3.8415999999999997 / n) * 1e9 + 0.5) / 1e9 AS denom
        |  FROM a
        |), c AS (
        |  SELECT *,
        |    floor((p + 3.8415999999999997 / (2.0 * n)) / denom * 1e9 + 0.5) / 1e9 AS center,
        |    floor(1.96 * sqrt(p * (1.0 - p) / n
        |      + 3.8415999999999997 / (4.0 * n * n)) / denom * 1e9 + 0.5) / 1e9 AS hw
        |  FROM b
        |)
        |SELECT window_start, n, k, p AS rate,
        |  floor((center - hw) * 1e9 + 0.5) / 1e9 AS ci_lo,
        |  floor((center + hw) * 1e9 + 0.5) / 1e9 AS ci_hi
        |FROM c""".stripMargin,

    // two counters + the Wilson formula at identical snap points
    "q_rate_ci" ->
      """WITH a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1
        |), b AS (
        |  SELECT *, floor(CAST(k AS DOUBLE) / n * 1e9 + 0.5) / 1e9 AS p,
        |    floor((1.0 + 3.8415999999999997 / n) * 1e9 + 0.5) / 1e9 AS denom
        |  FROM a
        |), c AS (
        |  SELECT *,
        |    floor((p + 3.8415999999999997 / (2.0 * n)) / denom * 1e9 + 0.5) / 1e9 AS center,
        |    floor(1.96 * sqrt(p * (1.0 - p) / n
        |      + 3.8415999999999997 / (4.0 * n * n)) / denom * 1e9 + 0.5) / 1e9 AS hw
        |  FROM b
        |)
        |SELECT source, n, k, p AS rate,
        |  floor((center - hw) * 1e9 + 0.5) / 1e9 AS ci_lo,
        |  floor((center + hw) * 1e9 + 0.5) / 1e9 AS ci_hi
        |FROM c""".stripMargin,

    // the q_leak_split clusters + the portable fold coin
    "q_group_kfold" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5(substr(text, 1, 30)) AS k FROM documents
        |), cl AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY k) AS cluster_id,
        |    count(*) OVER (PARTITION BY k) AS n
        |  FROM keyed
        |), c2 AS (
        |  SELECT doc_id AS member, cluster_id FROM cl WHERE n > 1
        |), j AS (
        |  SELECT d.doc_id, coalesce(c2.cluster_id, d.doc_id) AS fold_key
        |  FROM documents d LEFT JOIN c2 ON d.doc_id = c2.member
        |)
        |SELECT doc_id, fold_key,
        |  CAST((fold_key * 40503) % 5 AS INTEGER) AS fold
        |FROM j""".stripMargin,

    // contingency counts, window class totals, eps-smoothed
    // snapped fractions, ln-ratio terms
    "q_woe" ->
      """WITH d AS (
        |  SELECT source AS category, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS lbl
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |), c AS (
        |  SELECT category,
        |    CAST(sum(CASE WHEN lbl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN lbl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |  FROM d GROUP BY 1
        |), t AS (
        |  SELECT *, sum(n_pos) OVER () AS tp, sum(n_neg) OVER () AS tn FROM c
        |), f AS (
        |  SELECT category, n_pos, n_neg,
        |    CASE WHEN tp > 0 THEN
        |      floor((CAST(n_pos AS DOUBLE) / tp + 1e-6) * 1e9 + 0.5) / 1e9 END AS dp,
        |    CASE WHEN tn > 0 THEN
        |      floor((CAST(n_neg AS DOUBLE) / tn + 1e-6) * 1e9 + 0.5) / 1e9 END AS dn
        |  FROM t
        |), wv AS (
        |  SELECT *, CASE WHEN dp IS NOT NULL AND dn IS NOT NULL THEN
        |    floor(ln(dp / dn) * 1e9 + 0.5) / 1e9 END AS woe
        |  FROM f
        |)
        |SELECT category, n_pos, n_neg, woe,
        |  CASE WHEN woe IS NOT NULL THEN
        |    floor((dp - dn) * woe * 1e9 + 0.5) / 1e9 END AS iv_contrib
        |FROM wv""".stripMargin,

    // ntile over (score desc, doc_id), cumulative capture + lift
    // from the decile frame with the same snap points
    "q_gains" ->
      """WITH d AS (
        |  SELECT CAST(doc_id * 2654435761 % 1000 AS DOUBLE) / 1000.0 AS score,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS lbl, doc_id
        |  FROM documents WHERE n_chars IS NOT NULL
        |), b AS (
        |  SELECT ntile(10) OVER (ORDER BY score DESC, doc_id) AS bucket, lbl FROM d
        |), a AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(lbl) AS BIGINT) AS n_pos
        |  FROM b GROUP BY 1
        |), c AS (
        |  SELECT *,
        |    sum(n_rows) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_rows,
        |    sum(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_pos,
        |    sum(n_pos) OVER () AS tp, sum(n_rows) OVER () AS tn
        |  FROM a
        |)
        |SELECT bucket, n_rows, n_pos, CAST(cum_rows AS BIGINT) AS cum_rows,
        |  CAST(cum_pos AS BIGINT) AS cum_pos,
        |  CASE WHEN tp > 0 THEN
        |    floor(CAST(cum_pos AS DOUBLE) / tp * 1e9 + 0.5) / 1e9 END AS capture_rate,
        |  CASE WHEN tp > 0 THEN
        |    floor((floor(CAST(cum_pos AS DOUBLE) / cum_rows * 1e9 + 0.5) / 1e9)
        |      / (floor(CAST(tp AS DOUBLE) / tn * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9
        |  END AS cum_lift
        |FROM c""".stripMargin,

    // PAV via the minimax identity iso(i) = max_{j<=i} min_{k>=i}
    // mean(y[j..k]): prefix sums over the <=64-row bin frame, the
    // triple join is 64^3/2 rows; every quotient divides the same
    // exact longs the driver PAV pools, and correct rounding's
    // monotonicity makes min/max commute with the division
    "q_isotonic" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN ((o_orderkey * 48271) % 100000) * 60
        |        < CAST(round(o_totalprice * 100) AS BIGINT)
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders
        |), bounds AS (
        |  SELECT min(cents) AS lo, max(cents) AS hi FROM v
        |), b AS (
        |  SELECT ((v.cents - bounds.lo) * 64) // (bounds.hi - bounds.lo + 1) AS bin, v.y
        |  FROM v, bounds
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM b GROUP BY 1
        |), p AS (
        |  SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
        |    sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
        |  FROM g
        |), mm AS (
        |  SELECT ibin AS bin, max(m) AS rate_iso FROM (
        |    SELECT i.bin AS ibin, pj.bin AS jbin,
        |      min((pk.cp - (pj.cp - pj.pos)) / CAST(pk.cn - (pj.cn - pj.n) AS DOUBLE)) AS m
        |    FROM g i
        |    JOIN p pj ON pj.bin <= i.bin
        |    JOIN p pk ON pk.bin >= i.bin
        |    GROUP BY 1, 2
        |  ) t GROUP BY 1
        |)
        |SELECT g.bin, g.n, g.pos, g.pos / CAST(g.n AS DOUBLE) AS rate_raw, mm.rate_iso
        |FROM g JOIN mm ON g.bin = mm.bin""".stripMargin,

    // k-th order statistic replayed as max(r) over the first k
    // row_numbers (tie order is immaterial to the k-th VALUE);
    // identical residual arithmetic, split bucket, and ceil(k)
    "q_conformal" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    abs(l_extendedprice - l_quantity * 1800.0) AS r,
        |    ((l_orderkey * 7 + l_linenumber) * 48271) % 10000 < 2500 AS is_cal
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |), cal AS (
        |  SELECT grp, r, row_number() OVER (PARTITION BY grp ORDER BY r) AS rn,
        |    count(*) OVER (PARTITION BY grp) AS n_cal
        |  FROM v WHERE is_cal
        |), q AS (
        |  SELECT grp, CAST(max(n_cal) AS BIGINT) AS n_cal,
        |    CAST(ceil((max(n_cal) + 1) * 0.9) AS BIGINT) AS k,
        |    max(CASE WHEN rn <= CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) THEN r END) AS q_hat_raw
        |  FROM cal GROUP BY grp
        |), qq AS (
        |  SELECT grp, n_cal, CASE WHEN k <= n_cal THEN q_hat_raw END AS q_hat FROM q
        |), tst AS (
        |  SELECT v.grp, CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN v.r <= qq.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS covered
        |  FROM v JOIN qq ON v.grp = qq.grp
        |  WHERE NOT v.is_cal
        |  GROUP BY 1
        |)
        |SELECT qq.grp, qq.n_cal, qq.q_hat, tst.n_test,
        |  CASE WHEN qq.q_hat IS NOT NULL THEN tst.covered END AS covered,
        |  CASE WHEN qq.q_hat IS NOT NULL
        |    THEN tst.covered / CAST(tst.n_test AS DOUBLE) END AS coverage
        |FROM qq JOIN tst ON qq.grp = tst.grp""".stripMargin,

    // descending distinct-score blocks, snapped per-block terms,
    // snapped sum — sklearn's step AP
    "q_avg_precision" ->
      """WITH d AS (
        |  SELECT source, CAST(doc_id * 2654435761 % 1000 AS DOUBLE) / 1000.0 AS score,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS lbl
        |  FROM documents WHERE n_chars IS NOT NULL
        |), b AS (
        |  SELECT source, score AS s, count(*) AS n, CAST(sum(lbl) AS BIGINT) AS np
        |  FROM d GROUP BY 1, 2
        |), st AS (
        |  SELECT source, s, n, np,
        |    sum(n) OVER (PARTITION BY source ORDER BY s DESC
        |      ROWS UNBOUNDED PRECEDING) AS cumn,
        |    sum(np) OVER (PARTITION BY source ORDER BY s DESC
        |      ROWS UNBOUNDED PRECEDING) AS cump,
        |    sum(np) OVER (PARTITION BY source) AS npos
        |  FROM b
        |), t AS (
        |  SELECT source, n, np, npos,
        |    CASE WHEN npos > 0 AND np > 0 THEN
        |      floor((floor(CAST(cump AS DOUBLE) / cumn * 1e9 + 0.5) / 1e9)
        |        * np / npos * 1e9 + 0.5) / 1e9
        |    ELSE 0.0 END AS term
        |  FROM st
        |)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n, CAST(max(npos) AS BIGINT) AS n_pos,
        |  CASE WHEN max(npos) > 0 THEN floor(sum(term) * 1e9 + 0.5) / 1e9 END
        |    AS avg_precision
        |FROM t GROUP BY source""".stripMargin,

    // first-letter block (a replayable soundex superset) + the
    // identical K22 Jaro-Winkler gate — the fixture guarantees the
    // gate decides the same pair set
    "q_phonetic_join" ->
      """WITH base AS (
        |  SELECT p_partkey, string_split(p_name, ' ')[1] AS w
        |  FROM part WHERE p_partkey % 20 = 0
        |), fb AS (
        |  SELECT * FROM base WHERE substr(w, 1, 1) NOT IN ('a', 'e', 'i', 'o', 'u')
        |), l AS (
        |  SELECT p_partkey AS id_l, w AS nm_l FROM fb
        |), r AS (
        |  SELECT p_partkey AS id_r,
        |    CASE WHEN p_partkey % 3 = 0 THEN translate(w, 'aeiou', 'eioua') ELSE w END AS nm_r
        |  FROM fb
        |)
        |SELECT id_l, id_r,
        |  floor(jaro_winkler_similarity(nm_l, nm_r) * 1e6 + 0.5) / 1e6 AS jw_sim
        |FROM l JOIN r ON substr(nm_l, 1, 1) = substr(nm_r, 1, 1)
        |WHERE floor(jaro_winkler_similarity(nm_l, nm_r) * 1e6 + 0.5) / 1e6 >= 0.85""".stripMargin,

    // fractional ranks (tie-averaged halves) through the identical
    // five-sum Pearson replay
    "q_spearman" ->
      """WITH m AS (
        |  SELECT user_id, event_type, floor(avg(value) * 1e9 + 0.5) / 1e9 AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), r AS (
        |  SELECT user_id, event_type,
        |    (CAST(rank() OVER (PARTITION BY event_type ORDER BY m) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY event_type, m) AS DOUBLE) - 1.0) / 2.0)
        |      / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS rv
        |  FROM m
        |), p AS (
        |  SELECT a.event_type AS f1, b.event_type AS f2, a.rv AS x, b.rv AS y
        |  FROM r a JOIN r b ON a.user_id = b.user_id WHERE a.event_type < b.event_type
        |), agg AS (
        |  SELECT f1, f2, count(*) AS n_pairs,
        |    floor(avg(x) * 1e9 + 0.5) / 1e9 AS mx, floor(avg(y) * 1e9 + 0.5) / 1e9 AS my,
        |    floor(avg(x * x) * 1e9 + 0.5) / 1e9 AS mxx,
        |    floor(avg(y * y) * 1e9 + 0.5) / 1e9 AS myy,
        |    floor(avg(x * y) * 1e9 + 0.5) / 1e9 AS mxy
        |  FROM p GROUP BY 1, 2
        |), der AS (
        |  SELECT f1, f2, n_pairs,
        |    floor((mxy - mx * my) * 1e9 + 0.5) / 1e9 AS cov,
        |    floor((mxx - mx * mx) * 1e9 + 0.5) / 1e9 AS vx,
        |    floor((myy - my * my) * 1e9 + 0.5) / 1e9 AS vy
        |  FROM agg
        |)
        |SELECT f1, f2, n_pairs,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN floor(cov / sqrt(vx * vy) * 1e9 + 0.5) / 1e9 END AS corr
        |FROM der""".stripMargin,

    // fixed literal threshold fan-out, counters per threshold, f1
    // from the snapped P/R
    "q_pr_curve" ->
      """WITH d AS (
        |  SELECT CAST(doc_id * 2654435761 % 1000 AS DOUBLE) / 1000.0 AS score,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS lbl
        |  FROM documents WHERE n_chars IS NOT NULL
        |), t AS (
        |  SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS threshold
        |), a AS (
        |  SELECT threshold,
        |    CAST(sum(CASE WHEN lbl = 1 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN lbl = 0 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN lbl = 1 AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM d CROSS JOIN t GROUP BY 1
        |), m AS (
        |  SELECT threshold, tp, fp, fn,
        |    CASE WHEN tp + fp > 0 THEN
        |      floor(CAST(tp AS DOUBLE) / (tp + fp) * 1e9 + 0.5) / 1e9 END AS precision,
        |    CASE WHEN tp + fn > 0 THEN
        |      floor(CAST(tp AS DOUBLE) / (tp + fn) * 1e9 + 0.5) / 1e9 END AS recall
        |  FROM a
        |)
        |SELECT threshold, tp, fp, fn, precision, recall,
        |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
        |    AND precision + recall > 0 THEN
        |    floor(2.0 * precision * recall / (precision + recall) * 1e9 + 0.5) / 1e9
        |  END AS f1
        |FROM m""".stripMargin,

    // the streamed daily windows are epoch-aligned — the batch
    // counter replay grades the streamed run
    "q_stream_quality" ->
      """WITH w AS (
        |  SELECT make_timestamp(((epoch_us(ts) // 1000000) // 86400) * 86400 * 1000000)
        |    AS window_start, user_id, value, event_type
        |  FROM events WHERE ts IS NOT NULL
        |), a AS (
        |  SELECT window_start, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 90.0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
        |      ('view', 'click', 'purchase', 'signup') THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM w GROUP BY 1
        |), s AS (
        |  SELECT window_start, 'not_null(user_id)' AS "check", n_rows, v0 AS violations FROM a
        |  UNION ALL
        |  SELECT window_start, 'in_range(value,0.0,90.0)', n_rows, v1 FROM a
        |  UNION ALL
        |  SELECT window_start, 'in_set(event_type)', n_rows, v2 FROM a
        |)
        |SELECT window_start, "check", n_rows, violations,
        |  CASE WHEN n_rows > 0 THEN
        |    floor(CAST(violations AS DOUBLE) / n_rows * 1e9 + 0.5) / 1e9 ELSE 0.0 END
        |    AS violation_rate
        |FROM s""".stripMargin,

    // degree MLE: snapped ln terms over the tail, one closed form
    "q_power_law" ->
      """WITH e AS (
        |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) GROUP BY 1
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(CASE WHEN degree >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
        |    sum(CASE WHEN degree >= 2 THEN
        |      floor(ln(CAST(degree AS DOUBLE) / 1.5) * 1e9 + 0.5) / 1e9 END) AS lnsum
        |  FROM deg
        |)
        |SELECT n_nodes, n_tail, CAST(2 AS BIGINT) AS d_min,
        |  CASE WHEN n_tail >= 2 THEN
        |    floor((1.0 + CAST(n_tail AS DOUBLE) / lnsum) * 1e9 + 0.5) / 1e9 END AS alpha
        |FROM a""".stripMargin,

    // arg_max over a null-masked order — aggregates skip null
    // orderings on both engines
    "q_golden" ->
      """WITH c AS (
        |  SELECT c_custkey // 10 AS cluster, c_custkey, c_name,
        |    CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
        |  arg_max(c_name, CASE WHEN c_name IS NOT NULL THEN c_custkey END) AS c_name,
        |  floor(arg_max(c_acctbal, CASE WHEN c_acctbal IS NOT NULL THEN c_custkey END)
        |    * 1e6 + 0.5) / 1e6 AS c_acctbal,
        |  arg_max(c_mktsegment, CASE WHEN c_mktsegment IS NOT NULL THEN c_custkey END)
        |    AS c_mktsegment
        |FROM c GROUP BY cluster""".stripMargin,

    // per-source rank over doc_id, plan-time literal weight CASE
    "q_interleave" ->
      """SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank,
        |  floor(CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS DOUBLE)
        |    / (CASE WHEN source = 'src0' THEN 2.0 WHEN source = 'src1' THEN 1.0
        |            ELSE 0.5 END) * 1e9 + 0.5) / 1e9 AS vt
        |FROM documents""".stripMargin,

    // classic gaps-and-islands: island breaks where start > running
    // max end over strictly-preceding rows (order by (s, e)); the
    // break flag depends only on the sort-key VALUES, so duplicate
    // (s, e) rows grade deterministically in both engines
    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT l_suppkey, epoch_us(l_shipdate) // 1000000 AS s,
        |    epoch_us(l_shipdate) // 1000000 + CAST(l_quantity AS BIGINT) * 86400 AS e
        |  FROM lineitem
        |), o AS (
        |  SELECT l_suppkey, s, e,
        |    max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), f AS (
        |  SELECT l_suppkey, s, e,
        |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nf FROM o
        |), g AS (
        |  SELECT l_suppkey, s, e,
        |    sum(nf) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS island FROM f
        |)
        |SELECT l_suppkey, min(s) AS merged_start, max(e) AS merged_end,
        |  CAST(count(*) AS BIGINT) AS n_intervals,
        |  max(e) - min(s) AS covered
        |FROM g GROUP BY l_suppkey, island""".stripMargin,

    // the E4 bin frame rolled up: per-bin means/rates snapped first
    // (replay order), then each Murphy term snapped; resolution via
    // the algebraic expansion Σn_k·ō_k²/n − 2ō·(Σn_k·ō_k/n) + ō²
    // exactly as the operator computes it
    "q_brier" ->
      """WITH d AS (
        |  SELECT source, ((doc_id * 2654435761) % 1000) / 1000.0 AS score,
        |    CASE WHEN lang IS NULL THEN NULL WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        |  FROM documents
        |), b AS (
        |  SELECT source, CAST(least(greatest(floor(score * 10), 0), 9) AS INTEGER) AS bin,
        |    score, is_en
        |  FROM d WHERE score IS NOT NULL AND is_en IS NOT NULL
        |), pb AS (
        |  SELECT source, bin, CAST(count(*) AS BIGINT) AS nk,
        |    CAST(sum(is_en) AS BIGINT) AS posk,
        |    floor(avg(score) * 1e9 + 0.5) / 1e9 AS pbark,
        |    sum((score - is_en) * (score - is_en)) AS sqk
        |  FROM b GROUP BY 1, 2
        |), pb2 AS (
        |  SELECT *, floor(CAST(posk AS DOUBLE) / nk * 1e9 + 0.5) / 1e9 AS obark FROM pb
        |), gg AS (
        |  SELECT source, CAST(sum(nk) AS BIGINT) AS n, CAST(sum(posk) AS BIGINT) AS pos,
        |    sum(sqk) AS sq,
        |    sum(nk * (pbark - obark) * (pbark - obark)) AS rel,
        |    sum(nk * obark) AS so, sum(nk * obark * obark) AS so2
        |  FROM pb2 GROUP BY 1
        |), r AS (
        |  SELECT source, n, CAST(n AS DOUBLE) AS nd,
        |    floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) * 1e9 + 0.5) / 1e9 AS obar,
        |    sq, rel, so, so2
        |  FROM gg
        |), r2 AS (
        |  SELECT source, n,
        |    floor(sq / nd * 1e9 + 0.5) / 1e9 AS brier,
        |    floor(rel / nd * 1e9 + 0.5) / 1e9 AS reliability,
        |    floor((so2 / nd - 2.0 * obar * (so / nd) + obar * obar) * 1e9 + 0.5) / 1e9 AS resolution,
        |    floor(obar * (1.0 - obar) * 1e9 + 0.5) / 1e9 AS uncertainty
        |  FROM r
        |)
        |SELECT source, n, brier, reliability, resolution, uncertainty,
        |  floor((brier - reliability + resolution - uncertainty) * 1e9 + 0.5) / 1e9 AS decomp_gap
        |FROM r2""".stripMargin,

    // midranks via rank() + (tie count − 1)/2, tie-corrected σ², the
    // same A&S erfc chain as the t/χ² replays, every emitted value
    // snapped at 1e-9 in operator order
    "q_mann_whitney" ->
      """WITH f AS (
        |  SELECT l_linenumber AS feature, l_returnflag AS g, l_quantity AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A') AND l_quantity IS NOT NULL
        |), rk AS (
        |  SELECT feature, g,
        |    rank() OVER (PARTITION BY feature ORDER BY v)
        |      + (count(*) OVER (PARTITION BY feature, v) - 1) / 2.0 AS r
        |  FROM f
        |), pg AS (
        |  SELECT feature,
        |    CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN g = 'R' THEN r ELSE 0.0 END) AS ra
        |  FROM rk GROUP BY 1
        |  HAVING sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) > 0
        |     AND sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) > 0
        |), tt AS (
        |  SELECT feature, CAST(sum(t * t * t - t) AS BIGINT) AS tsum FROM (
        |    SELECT feature, v, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY 1, 2)
        |  GROUP BY 1
        |), c AS (
        |  SELECT pg.feature, n_a, n_b, ra, tsum,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        |  FROM pg JOIN tt USING (feature)
        |), u AS (
        |  SELECT *, na + nb AS n,
        |    ra - na * (na + 1.0) / 2.0 AS u_a,
        |    na * nb / 12.0 * ((na + nb + 1.0)
        |      - CAST(tsum AS DOUBLE) / ((na + nb) * (na + nb - 1.0))) AS sigma2
        |  FROM c
        |), zz AS (
        |  SELECT *, CASE WHEN sigma2 > 0 THEN
        |    floor((u_a - na * nb / 2.0) / sqrt(sigma2) * 1e9 + 0.5) / 1e9 END AS z
        |  FROM u
        |), pz AS (
        |  SELECT *, 1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS sf,
        |    abs(z) / sqrt(2.0) AS zn
        |  FROM zz
        |)
        |SELECT feature AS l_linenumber, n_a, n_b, u_a, na * nb - u_a AS u_b, z,
        |  CASE WHEN z IS NOT NULL THEN
        |    floor(sf * (0.254829592 + sf * (-0.284496736 + sf * (1.421413741
        |      + sf * (-1.453152027 + sf * 1.061405429)))) * exp(-zn * zn)
        |      * 1e9 + 0.5) / 1e9 END AS p_value,
        |  floor((2.0 * u_a / (na * nb) - 1.0) * 1e9 + 0.5) / 1e9 AS r_rank_biserial
        |FROM pz""".stripMargin,

    // deterministic total order (n_tokens desc, doc_id), cut every
    // 32 docs; the short final batch bills only its actual rows
    "q_length_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len([x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> '']) AS BIGINT) AS n_tokens
        |  FROM documents
        |), rn AS (
        |  SELECT source, n_tokens,
        |    (row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) - 1) // 32 AS batch_id
        |  FROM toks
        |), agg AS (
        |  SELECT source, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
        |    max(n_tokens) AS max_tokens, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |  FROM rn GROUP BY 1, 2
        |)
        |SELECT source, batch_id, n_docs, max_tokens, sum_tokens,
        |  n_docs * max_tokens - sum_tokens AS padding,
        |  CASE WHEN n_docs * max_tokens > 0 THEN
        |    floor(CAST(n_docs * max_tokens - sum_tokens AS DOUBLE)
        |      / (n_docs * max_tokens) * 1e9 + 0.5) / 1e9
        |    ELSE 0.0 END AS pad_frac
        |FROM agg""".stripMargin,

    // the calibration bin frame rolled to L1/L-inf: per-bin snapped
    // mean/rate, |gap| over deterministic operands, weighted sum and
    // max snapped once over the <=bins frame
    "q_ece" ->
      """WITH d AS (
        |  SELECT source, ((doc_id * 2654435761) % 1000) / 1000.0 AS score,
        |    CASE WHEN lang IS NULL THEN NULL WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        |  FROM documents
        |), b AS (
        |  SELECT source, CAST(least(greatest(floor(score * 10), 0), 9) AS INTEGER) AS bin,
        |    score, is_en
        |  FROM d WHERE score IS NOT NULL AND is_en IS NOT NULL
        |), pb AS (
        |  SELECT source, bin, CAST(count(*) AS BIGINT) AS nk,
        |    CAST(sum(is_en) AS BIGINT) AS posk,
        |    floor(avg(score) * 1e9 + 0.5) / 1e9 AS pbark
        |  FROM b GROUP BY 1, 2
        |), pg AS (
        |  SELECT *, abs(pbark - floor(CAST(posk AS DOUBLE) / nk * 1e9 + 0.5) / 1e9) AS gap
        |  FROM pb
        |)
        |SELECT source, CAST(sum(nk) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_bins,
        |  floor(sum(nk * gap) / CAST(sum(nk) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS ece,
        |  floor(max(gap) * 1e9 + 0.5) / 1e9 AS mce
        |FROM pg GROUP BY 1""".stripMargin,

    // the C44 island chain + one lead window: gap rows between
    // consecutive islands, single-island keys emit nothing
    "q_interval_gaps" ->
      """WITH iv AS (
        |  SELECT l_suppkey, epoch_us(l_shipdate) // 1000000 AS s,
        |    epoch_us(l_shipdate) // 1000000 + CAST(l_quantity AS BIGINT) * 86400 AS e
        |  FROM lineitem
        |), o AS (
        |  SELECT l_suppkey, s, e,
        |    max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), f AS (
        |  SELECT l_suppkey, s, e,
        |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nf FROM o
        |), g AS (
        |  SELECT l_suppkey, s, e,
        |    sum(nf) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS island FROM f
        |), mg AS (
        |  SELECT l_suppkey, min(s) AS ms, max(e) AS me
        |  FROM g GROUP BY l_suppkey, island
        |), nx AS (
        |  SELECT l_suppkey, me AS gap_start,
        |    lead(ms, 1) OVER (PARTITION BY l_suppkey ORDER BY ms) AS gap_end
        |  FROM mg
        |)
        |SELECT l_suppkey, gap_start, gap_end, gap_end - gap_start AS gap
        |FROM nx WHERE gap_end IS NOT NULL""".stripMargin,

    // rank-1 of each planted twin is its base vector (cosine 1.0,
    // unique), so the vote is unanimous: the base label, 1 of 1
    "q_knn_classify" ->
      """SELECT vec_id + 100000 AS query_id, label,
        |  CAST(1 AS BIGINT) AS votes, CAST(1 AS BIGINT) AS k_found
        |FROM embeddings WHERE vec_id < 50""".stripMargin,

    // full replay: portable-LCG coin vs integer Poisson(1) CDF
    // thresholds, exact long resample sums, snapped means, exact
    // decimal nearest-rank indices over the realized B'
    "q_bootstrap_ci" ->
      """WITH base AS (
        |  SELECT c_mktsegment AS seg, c_custkey AS id,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
        |  FROM customer WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
        |), reps AS (
        |  SELECT seg, id, v, r FROM base CROSS JOIN (SELECT unnest(range(0, 200)) AS r)
        |), mm AS (
        |  SELECT seg, r, v,
        |    CASE WHEN h < 367873 THEN 0 WHEN h < 735746 THEN 1 WHEN h < 919682 THEN 2
        |         WHEN h < 980995 THEN 3 WHEN h < 996323 THEN 4 WHEN h < 999388 THEN 5
        |         WHEN h < 999899 THEN 6 WHEN h < 999972 THEN 7 ELSE 8 END AS m
        |  FROM (SELECT seg, r, v,
        |    ((id * 480879 + r * 104729 + 42) % 999983 + 999983) % 999983 AS h FROM reps)
        |), agg AS (
        |  SELECT seg, r, CAST(sum(m * v) AS BIGINT) AS S, CAST(sum(m) AS BIGINT) AS C
        |  FROM mm GROUP BY 1, 2 HAVING sum(m) > 0
        |), means AS (
        |  SELECT seg, r, floor(CAST(S AS DOUBLE) / C * 1e9 + 0.5) / 1e9 AS mn FROM agg
        |), rk AS (
        |  SELECT seg, r, mn, row_number() OVER (PARTITION BY seg ORDER BY mn, r) AS rn,
        |    count(*) OVER (PARTITION BY seg) AS B
        |  FROM means
        |), ci AS (
        |  SELECT seg,
        |    min(CASE WHEN rn = greatest(CAST(ceil(0.05 / 2 * B) AS BIGINT), 1) THEN mn END) AS ci_lo,
        |    min(CASE WHEN rn = CAST(ceil((1 - 0.05 / 2) * B) AS BIGINT) THEN mn END) AS ci_hi,
        |    CAST(min(B) AS BIGINT) AS b_effective
        |  FROM rk GROUP BY 1
        |), pt AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    floor(CAST(sum(v) AS DOUBLE) / count(*) * 1e9 + 0.5) / 1e9 AS mean
        |  FROM base GROUP BY 1
        |)
        |SELECT pt.seg AS c_mktsegment, n, mean, ci_lo, ci_hi, b_effective
        |FROM pt JOIN ci USING (seg)""".stripMargin,

    // per-(doc, token) counts, snapped -p·ln(p) terms, snapped sum,
    // then the bits / normalized conversions at the operator's snap
    // points (ln2 = the double literal both engines parse exactly)
    "q_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2
        |), tt AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS n_types
        |  FROM c GROUP BY 1
        |), h AS (
        |  SELECT c.doc_id,
        |    floor(sum(floor(-(CAST(c AS DOUBLE) / CAST(T AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(T AS DOUBLE)) * 1e9 + 0.5) / 1e9)
        |      * 1e9 + 0.5) / 1e9 AS hn
        |  FROM c JOIN tt USING (doc_id) GROUP BY 1
        |), eb AS (
        |  SELECT h.doc_id, T AS n_tokens, n_types,
        |    floor(hn / 0.6931471805599453 * 1e9 + 0.5) / 1e9 AS entropy_bits
        |  FROM h JOIN tt USING (doc_id)
        |)
        |SELECT doc_id, n_tokens, n_types, entropy_bits,
        |  CASE WHEN n_types > 1 THEN
        |    floor(entropy_bits / (floor(ln(CAST(n_types AS DOUBLE)) / 0.6931471805599453
        |      * 1e9 + 0.5) / 1e9) * 1e9 + 0.5) / 1e9 END AS norm_entropy
        |FROM eb""".stripMargin,

    // planted twins are each other's UNIQUE cosine-1.0 neighbor and
    // nothing else clears minCosine = 0.999, so each mutual-kNN
    // cluster is exactly {v, v+100000} with min-id label v
    "q_knn_components" ->
      """SELECT vec_id AS member_id, vec_id AS cluster_id
        |FROM embeddings WHERE vec_id < 50
        |UNION ALL
        |SELECT vec_id + 100000 AS member_id, vec_id AS cluster_id
        |FROM embeddings WHERE vec_id < 50""".stripMargin
  )

  /** Morton interleave replay: bit i of column j lands at position
    * i·2 + j — the 20 shift terms are generated, not hand-written,
    * so Spark and DuckDB compute the identical formula.
    */
  private val ZorderOracleSql: String = {
    val terms = (0 until 10).flatMap(i => Seq(
      s"(((qa >> $i) & 1) << ${2 * i})",
      s"(((qb >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    s"""WITH s AS (
       |  SELECT min(l_partkey) AS mna, max(l_partkey) AS mxa,
       |         min(l_suppkey) AS mnb, max(l_suppkey) AS mxb FROM lineitem
       |), q AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CASE WHEN mxa = mna THEN 0 ELSE ((l_partkey - mna) * 1023) // (mxa - mna) END AS qa,
       |    CASE WHEN mxb = mnb THEN 0 ELSE ((l_suppkey - mnb) * 1023) // (mxb - mnb) END AS qb
       |  FROM lineitem, s
       |)
       |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zvalue FROM q""".stripMargin
  }

  /** Shared by q_bm25 and q_bm25_persist — the persisted-index
    * round-trip must reproduce the direct scoring exactly.
    */
  private val Bm25OracleSql: String =
    """WITH f AS (
      |  SELECT doc_id, [x FOR x IN string_split_regex(lower(text), '[^\p{L}\p{N}]+') IF x <> ''] AS toks
      |  FROM documents
      |), stats AS (
      |  SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl FROM f
      |), post AS (
      |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM f
      |), tf AS (
      |  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM post
      |  WHERE term IN ('vector', 'hash', 'stream', 'window') GROUP BY doc_id, dl, term
      |), dfreq AS (
      |  SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY term
      |), scored AS (
      |  SELECT tf.doc_id,
      |    floor(sum(
      |      ln(1.0 + (s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5)) * (tf.tf * 2.2)
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
      |    ) * 1000000 + 0.5) / 1000000 AS score
      |  FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN stats s
      |  GROUP BY tf.doc_id
      |)
      |SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
}
