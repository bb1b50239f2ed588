package graft
import org.apache.spark.sql.SparkSession

/** Optional in-bench work meter (additions-only harness
  * instrumentation, round 17): when `SPARK_GRAFT_METER_OUT` is set
  * (the driver never sets it), every timed query execution also
  * lands one JSONL line of task-level counters — executor CPU/run
  * time, JVM GC time, spill, shuffle and input bytes, task count —
  * plus the block-manager storage footprint (persisted RDD count,
  * memory/disk bytes) sampled AFTER the action. Listener accounting
  * is async and the storage sample runs outside the timed region,
  * so `queries`/`total` semantics are unchanged. Purpose: attribute
  * in-bench-context anomalies (q_triangles, q_ivf_refit — VERDICT
  * r16 item 3) to CPU vs GC vs spill vs accumulated checkpoint
  * blocks, which a fresh-session probe cannot see.
  */
private final class BenchMeter(spark: SparkSession, path: String) {
  import java.util.concurrent.atomic.LongAdder
  import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
  private val cpu, run, gc, spillM, spillD, shR, shW, in, tasks = new LongAdder
  private val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        cpu.add(m.executorCpuTime); run.add(m.executorRunTime); gc.add(m.jvmGCTime)
        spillM.add(m.memoryBytesSpilled); spillD.add(m.diskBytesSpilled)
        shR.add(m.shuffleReadMetrics.totalBytesRead)
        shW.add(m.shuffleWriteMetrics.bytesWritten)
        in.add(m.inputMetrics.bytesRead); tasks.add(1L)
      }
    }
  })
  def reset(): Unit =
    Seq(cpu, run, gc, spillM, spillD, shR, shW, in, tasks).foreach(_.reset())
  def record(name: String, pass: String, wallSecs: Double): Unit = {
    val st = spark.sparkContext.getRDDStorageInfo
    def mb(v: Long): Double = math.floor(v / 1e4) / 100.0
    // executorCpuTime is nanoseconds; executorRunTime/jvmGCTime are ms
    def ns3(v: Long): Double = math.floor(v / 1e6) / 1000.0
    def ms3(v: Long): Double = v / 1000.0
    w.write(s"""{"q":"$name","pass":"$pass","wall":${math.floor(wallSecs * 1e3) / 1e3}""" +
      s""","cpu":${ns3(cpu.sum)},"run":${ms3(run.sum)},"gc":${ms3(gc.sum)}""" +
      s""","spill_mem_mb":${mb(spillM.sum)},"spill_disk_mb":${mb(spillD.sum)}""" +
      s""","shuf_r_mb":${mb(shR.sum)},"shuf_w_mb":${mb(shW.sum)},"input_mb":${mb(in.sum)}""" +
      s""","tasks":${tasks.sum},"rdds_persisted":${st.length}""" +
      s""","storage_mem_mb":${mb(st.map(_.memSize).sum)},"storage_disk_mb":${mb(st.map(_.diskSize).sum)}}""" + "\n")
    w.flush()
  }
  def close(): Unit = w.close()
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // 490 query executions full of localCheckpoints pin shuffle/
      // RDD blocks until a driver GC lets the ContextCleaner run;
      // the default 30min periodic GC never fires inside a bench
      // pass, so late queries measured block-starved executors.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen/FS once so per-query numbers measure the
    // queries, not session startup
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // optional comma-separated name filter for targeted experiments
    // (the driver never sets it — all queries run)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // materialize the session-shared graph artifacts and CHARGE THEM
    // TO THEIR OWN LINE — without this a single-pass record bills
    // the ~20s shared build to an arbitrary first graph query. Only
    // when a graph query actually runs (a targeted non-graph filter
    // must not pay it), and loudly on failure (a swallowed error
    // would push the build back into the first graph query — the
    // exact mis-attribution this preamble exists to prevent).
    // the shared build is split per consumer family: a targeted
    // SPARK_GRAFT_ONLY=q_pagerank run must not pay the unrelated
    // LPA+Louvain chain (~20s at sf0.1) just to warm the purchase
    // frame it actually reads
    val coOrderKeys = Set("q_louvain", "q_modularity", "q_label_prop", "q_triangles",
      "q_cooccur", "q_assortativity", "q_clustering", "q_bfs_hops", "q_power_law")
    val rankKeys = Set("q_pagerank", "q_ppr")
    val purchaseKeys = rankKeys + "q_hits"
    val wantsCoOrder = only.forall(f => coOrderKeys.exists(f.contains))
    val wantsPurchase = only.forall(f => purchaseKeys.exists(f.contains))
    val wantsRanks = only.forall(f => rankKeys.exists(f.contains))
    val tW = System.nanoTime()
    // the two shared-build chains are independent DAGs (co-order:
    // edges → canonical → LPA → Louvain; purchase: edge frame →
    // fused ranks) — run them as concurrent Spark job groups so the
    // warm line pays max(chains), not their sum (the purchase chain
    // hides entirely under the co-order chain at sf0.1: ~7s of ~20s)
    val warmJobs = Seq(
      if (wantsCoOrder) Some(() =>
        try SparkEntry.warmSharedCoOrder(spark, sfDir)
        catch { case e: Throwable => System.err.println(s"[bench] warmSharedCoOrder FAILED: $e") })
      else None,
      if (wantsPurchase || wantsRanks) Some(() => {
        try {
          SparkEntry.warmSharedPurchase(spark, sfDir)
          // the fused rank frame rides on the edge frame; only pay
          // the 3 fused iterations when a rank query actually runs
          // (q_hits alone must not)
          if (wantsRanks) SparkEntry.warmSharedPurchaseRanks(spark, sfDir)
        } catch { case e: Throwable => System.err.println(s"[bench] warmSharedPurchase FAILED: $e") }
      })
      else None
    ).flatten
    if (warmJobs.size <= 1) warmJobs.foreach(_.apply())
    else {
      val threads = warmJobs.map(j => new Thread(() => j()))
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    val warmSecs = (System.nanoTime() - tW) / 1e9
    // host-speed calibration: six BATCH queries whose code paths
    // have been stable for rounds (the SCALEPROBE_r10.md §8 idea —
    // an idle-VM window re-ran untouched queries 50-150% slower —
    // minus its two streaming members, whose harness is still being
    // tuned and would conflate meter drift with harness work). Run
    // discard + measured passes and report the measured sum as
    // `_host_control` so every record self-documents how fast the
    // host was when it was taken — records whose control diverges
    // >~1.2x from the committed reference (see SCALEPROBE_r11.md)
    // are not like-for-like. Excluded from `total`: it is a meter,
    // not benchmarked work.
    val controlKeys = Seq("q_rules", "q_bm25_append", "q_outliers",
      "q_profile", "q_salted_join", "q_ngram_jaccard")
    // a fast-failing control member would silently deflate the meter
    // and corrupt every like-for-like comparison made against it —
    // log and count failures so a deflated meter is distinguishable
    // from a fast host
    var controlErrors = 0
    def runControl(): Double = controlKeys.map { name =>
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case e: Throwable =>
        controlErrors += 1
        System.err.println(s"[bench] host-control query $name FAILED: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }.sum
    runControl() // discard: one-time codegen/page-cache costs
    val hostControl = runControl()
    // segment probe: a 2-member subset of the control (~3s) re-run
    // every `segmentEvery` queries of the MEASURED pass. The r12/r13
    // rounds each lost a full bench window to monotonic host drift
    // (control 16.9 -> 23.9 across hours) that only a manual re-run
    // of the opening control could see — by then the window was
    // spent. Per-segment meters make drift visible IN the record and
    // let the tool fail the window itself instead of a human
    // triaging stale numbers. Probe members are the two cheapest
    // stable control queries; probe time is metering, not
    // benchmarked work — excluded from `total` like `_host_control`.
    val segmentProbeKeys = Seq("q_outliers", "q_ngram_jaccard")
    // ≤ 0 disables the interleaved probes (A/B hygiene: lets an
    // experiment measure query times with the EXACT r13 pass shape)
    val segmentEvery = sys.env.getOrElse("SPARK_GRAFT_SEGMENT_EVERY", "25").toInt
    // probe failures are a QUERY bug, not host drift: a fast-failing
    // probe would collapse segMin and flag the window DRIFTING for
    // the wrong reason. Failed probe samples are recorded NEGATIVE
    // (visible in the record), excluded from the drift min/max, and
    // counted separately from host-control failures.
    var segProbeErrors = 0
    def runSegmentProbe(): Double = {
      var ok = true
      val secs = segmentProbeKeys.map { name =>
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, sfDir).count() }
        catch { case e: Throwable =>
          segProbeErrors += 1
          ok = false
          System.err.println(s"[bench] segment probe $name FAILED: $e")
        }
        (System.nanoTime() - t0) / 1e9
      }.sum
      if (ok) secs else -secs
    }
    // a failed query is recorded as the NEGATIVE of its elapsed time
    // (never a silent fast-pass masquerading as an improvement),
    // excluded from `total`, and counted in `_failed_count`;
    // tools/check_regression.py refuses records containing failures
    val failedNames = scala.collection.mutable.ArrayBuffer[String]()
    // cold-pass failures get their own ledger: a query that crashes
    // only cold would otherwise leave a negative marker in
    // queries_cold that total_cold silently excludes (reading as an
    // improvement) with no counter for the gate to scan
    val coldFailedNames = scala.collection.mutable.ArrayBuffer[String]()
    // see [[BenchMeter]] — off unless SPARK_GRAFT_METER_OUT is set
    val meter = sys.env.get("SPARK_GRAFT_METER_OUT").map(new BenchMeter(spark, _))
    // Between-queries checkpoint sweep (round 17, default ON;
    // SPARK_GRAFT_SWEEP=0 restores the r16 behavior for A/Bs): each
    // completed query leaves its eager localCheckpoint blocks pinned
    // until the next periodic driver GC; across ~490 sequential
    // query executions the accumulated blocks evict the session-
    // shared graph frames to disk and the late-pass queries measure
    // a block-starved session (the r16 q_triangles in-bench anomaly:
    // 34-90 s in-window vs 2.4-2.8 s fresh-session, same code).
    // Sweeping DEAD blocks between queries runs outside every timed
    // region and unpersists only RDDs no future plan can reference
    // (shared artifacts are registered and protected — see
    // SparkEntry.sweepUnsharedRdds).
    val sweepOn = sys.env.getOrElse("SPARK_GRAFT_SWEEP", "1") != "0"
    def sweep(): Unit = if (sweepOn) SparkEntry.sweepUnsharedRdds(spark)
    def runAll(probes: Option[scala.collection.mutable.ArrayBuffer[Double]] = None): Map[String, Double] = {
      var i = 0
      val failBuf = if (probes.isDefined) failedNames else coldFailedNames
      val passLabel = if (probes.isDefined) "warm" else "cold"
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          probes.foreach { buf =>
            if (segmentEvery > 0 && i % segmentEvery == 0) buf += runSegmentProbe()
            i += 1
          }
          meter.foreach(_.reset())
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              failBuf += name
              System.err.println(s"[bench] query $name FAILED: $e")
              false
            }
          val el = (System.nanoTime() - t0) / 1e9
          meter.foreach(_.record(name, passLabel, el))
          sweep()
          name -> (if (ok) el else -el)
        }
    }
    // the first post-idle pass pays one-time costs (whole-stage
    // codegen compiles, RocksDB instantiation, OS page cache) up to
    // ~50% of its wall-clock. It used to be a silent discard; the r11
    // verdict called that convention blind — a fresh session (and the
    // driver) pays exactly the first pass. Record BOTH: `queries` /
    // `total` stay the steady second pass (like-for-like with every
    // prior round's record) and `queries_cold` / `total_cold` carry
    // the first pass so cold-start costs are visible and triageable.
    val coldResults = runAll()
    val warmLine: Map[String, Double] =
      if (wantsCoOrder || wantsPurchase) Map("_shared_graph_build" -> warmSecs) else Map.empty
    val segmentProbes = scala.collection.mutable.ArrayBuffer[Double]()
    val results = runAll(Some(segmentProbes)) ++ warmLine
    // closing full control: start/end pair bounds total window drift
    // even if the per-segment probes are too coarse to localize it
    val hostControlEnd = runControl()
    // drift verdict: the window is only like-for-like with itself if
    // the host ran at one speed throughout. Flag when the slowest
    // segment probe exceeds the fastest by >1.5x, or the closing
    // control exceeds the opening by >1.3x (the r13 discarded
    // windows showed 1.4x end-over-start). A flagged record should
    // be re-run, not compared.
    val validProbes = segmentProbes.filter(_ > 0) // failed probes carry negative markers
    val segMax = if (validProbes.nonEmpty) validProbes.max else 0.0
    val segMin = if (validProbes.nonEmpty) validProbes.min else 1.0
    val segRatio = if (segMin > 0) segMax / segMin else 0.0
    val endRatio = if (hostControl > 0) hostControlEnd / hostControl else 0.0
    val drifting = (validProbes.nonEmpty && segRatio > 1.5) || endRatio > 1.3
    // millisecond precision keeps the record line ~5 KB — full
    // double reprs tripled it and the driver's stdout tail-capture
    // truncated the r7/r8 records into unparseable fragments
    def r3(v: Double): Double = math.floor(v * 1e3 + 0.5) / 1e3
    // total sums the benchmarked work (incl. the shared-build line);
    // the control meter rides in `queries` but not in `total`;
    // failed queries (negative markers) are excluded so a crash can
    // never read as an improvement
    val total = if (results.nonEmpty) r3(results.values.filter(_ > 0).sum) else 0.0
    val totalCold = if (coldResults.nonEmpty) r3(coldResults.values.filter(_ > 0).sum + warmSecs) else 0.0
    def jsonMap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val segLines = segmentProbes.zipWithIndex.map { case (v, i) =>
      f"_seg_control_$i%03d" -> v
    }.toMap
    val qs = jsonMap(results ++ segLines +
      ("_host_control" -> hostControl) +
      ("_host_control_end" -> hostControlEnd) +
      ("_host_control_errors" -> controlErrors.toDouble) +
      ("_seg_probe_errors" -> segProbeErrors.toDouble) +
      ("_failed_count" -> failedNames.size.toDouble))
    if (failedNames.nonEmpty) System.err.println(
      s"[bench] ${failedNames.size} queries FAILED in the measured pass: ${failedNames.mkString(", ")}")
    if (coldFailedNames.nonEmpty) System.err.println(
      s"[bench] ${coldFailedNames.size} queries FAILED in the cold pass: ${coldFailedNames.mkString(", ")}")
    val coldQs = jsonMap(coldResults ++ warmLine +
      ("_failed_count_cold" -> coldFailedNames.size.toDouble))
    val driftField = if (drifting) "DRIFTING" else "ok"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"total_cold":$totalCold,"queries_cold":$coldQs,"drift":"$driftField","drift_seg_ratio":${r3(segRatio)},"drift_end_ratio":${r3(endRatio)},"sf":"$sfDir"}"""
    if (drifting) System.err.println(
      f"[bench] WINDOW DRIFT: segment max/min $segRatio%.2f, end/start control $endRatio%.2f — re-run this window before comparing")
    // land the record in a file first: stdout through the sbt runner
    // gets log-prefixed and has produced truncated records
    // a TARGETED run must never clobber the committed full-registry
    // record — partial records land in a sibling file unless the
    // caller overrides explicitly
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    meter.foreach(_.close())
    spark.stop()
    // print LAST, after spark.stop's log chatter, so a tail capture
    // of stdout ends with the complete record
    println(line)
    // the driver's stdout capture keeps only the final ~2000 chars —
    // a 250-query record line can NEVER arrive whole (every BENCH_rN
    // through r10 shows parsed=None with the record cut mid-line).
    // Emit a compact summary AS THE LAST LINE: the same contract
    // shape, `queries` limited to the slowest 20 plus the meta lines,
    // with pointers to the full committed record. Guaranteed under
    // the window, so a tail-side JSON parse succeeds.
    val slowest = results.toSeq.sortBy(-_._2).take(20)
    val compactQs = (slowest ++ Seq(
      "_host_control" -> hostControl,
      "_n_queries" -> results.count(_._1.startsWith("q_")).toDouble))
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$compactQs,"total_cold":$totalCold,"drift":"$driftField","sf":"$sfDir","full_record":"$out"}""")
  }
}
