package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SQLAppStatusStore, SparkPlanGraphNode}

/** Per-layer figures of the traced run: span self times, task counters
  * of the spans' job groups, and row counts read from the executed
  * plans' SQL metrics. Each figure is the median over the timed passes.
  */
object Layers {
  private final case class PlanStats(
      exchanges: Long = 0, broadcasts: Long = 0, bandRows: Long = 0,
      candidates: Long = 0, verified: Long = 0, joinRows: Long = 0) {
    def +(o: PlanStats): PlanStats = PlanStats(exchanges + o.exchanges, broadcasts + o.broadcasts,
      bandRows + o.bandRows, candidates + o.candidates, verified + o.verified, joinRows + o.joinRows)
  }

  private val RowsMetric = "number of output rows"

  private def parseCount(s: String): Long =
    "[0-9][0-9,]*".r.findFirstIn(s).map(_.replace(",", "").toLong).getOrElse(0L)

  private def planStats(store: SQLAppStatusStore, executionId: Long): PlanStats = {
    val graph = store.planGraph(executionId)
    val values = store.executionMetrics(executionId)
    val nodes = graph.allNodes
    val byId = nodes.map(n => n.id -> n).toMap
    // edges run from a child operator to the operator consuming it
    val children = graph.edges.groupBy(_.toId).map { case (k, es) => k -> es.map(_.fromId) }
    def rows(n: SparkPlanGraphNode): Option[Long] =
      n.metrics.find(_.name == RowsMetric).flatMap(m => values.get(m.accumulatorId)).map(parseCount)
    def isJoin(n: SparkPlanGraphNode) = n.name.endsWith("Join")
    // Jaccard verify: a Filter, or the join it was pushed into. Its input
    // is one row per candidate pair, the output of the join beneath it
    // that attaches the first document's shingles.
    def nearestJoinBelow(id: Long): Option[SparkPlanGraphNode] = {
      val kids = children.getOrElse(id, Nil).flatMap(byId.get)
      kids.find(isJoin).orElse(kids.iterator.map(k => nearestJoinBelow(k.id)).collectFirst { case Some(j) => j })
    }
    val verify = nodes.filter(n => (n.name == "Filter" || isJoin(n)) && n.desc.contains("jaccard_sim"))
    PlanStats(
      exchanges = nodes.count(_.name == "Exchange").toLong,
      broadcasts = nodes.count(_.name == "BroadcastExchange").toLong,
      bandRows = nodes.filter(n => n.name == "Generate" && n.desc.contains("minhash_band_keys"))
        .flatMap(rows).sum,
      candidates = verify.flatMap(v => nearestJoinBelow(v.id)).flatMap(rows).sum,
      verified = verify.flatMap(rows).sum,
      joinRows = nodes.filter(_.name == "BroadcastHashJoin").flatMap(rows).sum)
  }

  def perPass(
      spark: SparkSession,
      tracer: Tracer,
      meter: TaskMeter,
      pipeline: Pipeline,
      timed: Seq[Main.PassStats],
      cores: Int
  ): Seq[(String, Double)] = {
    org.apache.spark.perfbenchbridge.ListenerDrain(spark.sparkContext)
    val store = spark.sharedState.statusStore
    val spanPlans: Map[Int, PlanStats] = store.executionsList().flatMap { e =>
      e.jobs.keys.toSeq.sorted.flatMap(j => meter.jobGroup.get(j)).flatMap(Tracer.spanOf).headOption
        .map(_ -> planStats(store, e.executionId))
    }.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).reduce(_ + _) }

    val rows = timed.map { p =>
      val spans = tracer.passSpans(p.pass)
      val wall = spans.find(_.name == "pass").map(_.seconds).getOrElse(p.wall)
      def named(n: String) = spans.filter(_.name == n)
      def dur(n: String) = named(n).map(_.seconds).sum
      def self(n: String) = named(n).map(tracer.selfSeconds).sum
      def pct(n: String) = 100.0 * self(n) / wall
      def counters(ss: Seq[Span]) = ss.flatMap(s => meter.byGroup.get(Tracer.group(s.id)))
      def plans(ss: Seq[Span]) = ss.flatMap(s => spanPlans.get(s.id)).foldLeft(PlanStats())(_ + _)
      def phaseOf(s: Span): String =
        if (s.name.startsWith("phase.") || s.parent < 0) s.name else phaseOf(tracer.spans(s.parent))
      val all = counters(spans)
      val inputRead = counters(spans.filter(s => phaseOf(s) != "phase.read")).map(_.input).sum
      val dedup = plans(named("operators.dedup.minhash"))
      val allPlans = plans(spans)
      val (indexBytes, qps, scored) = pipeline match {
        case v: VectorSearch =>
          (p.storedBytes.toDouble, v.nQueries / named("operators.ivf.query").map(_.seconds).sum,
            plans(named("operators.ivf.query")).joinRows.toDouble)
        case _ => (0.0, 0.0, 0.0)
      }
      Seq(
        "trace.pass_s" -> wall,
        "phase.load_s" -> dur("phase.load"),
        "phase.build_s" -> dur("phase.build"),
        "phase.save_s" -> dur("phase.save"),
        "phase.read_s" -> dur("phase.read"),
        "api.load.self_s" -> self("api.load"),
        "api.load.jobs" -> counters(named("api.load")).map(_.jobs).sum.toDouble,
        "api.save_pct" -> pct("api.save"),
        "api.reload_pct" -> pct("api.reload"),
        "sources.input_read_ratio" -> inputRead.toDouble / pipeline.inputBytes,
        "operators.reshape.melt_pct" -> pct("operators.reshape.melt"),
        "operators.split_pct" -> pct("operators.split"),
        "operators.text.quality_pct" -> pct("operators.text.quality"),
        "operators.dedup.exact_pct" -> pct("operators.dedup.exact"),
        "operators.dedup.minhash_pct" -> pct("operators.dedup.minhash"),
        "operators.dedup.clusters_pct" -> pct("operators.dedup.clusters"),
        "operators.dedup.band_rows" -> dedup.bandRows.toDouble,
        "operators.dedup.candidate_pairs" -> dedup.candidates.toDouble,
        "operators.dedup.verified_pairs" -> dedup.verified.toDouble,
        "operators.dedup.verify_yield" ->
          (if (dedup.candidates > 0) dedup.verified.toDouble / dedup.candidates else 0.0),
        "operators.ivf.fit_pct" -> pct("operators.ivf.fit"),
        "operators.ivf.save_pct" -> pct("operators.ivf.save"),
        "operators.ivf.load_pct" -> pct("operators.ivf.load"),
        "operators.ivf.query_pct" -> pct("operators.ivf.query"),
        "operators.ivf.index_bytes" -> indexBytes,
        "operators.ivf.candidates_scored" -> scored,
        "operators.ivf.query_qps" -> qps,
        "spark.jobs" -> all.map(_.jobs).sum.toDouble,
        "spark.stages" -> all.map(_.stages).sum.toDouble,
        "spark.tasks" -> all.map(_.tasks).sum.toDouble,
        "spark.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> p.gcSeconds,
        "spark.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> all.map(_.spill).sum.toDouble,
        "spark.input_bytes" -> all.map(_.input).sum.toDouble,
        "spark.idle_core_s" -> (cores * wall - all.map(_.runMs).sum / 1e3),
        "plan.exchanges" -> allPlans.exchanges.toDouble,
        "plan.broadcasts" -> allPlans.broadcasts.toDouble)
    }
    rows.head.map(_._1).zipWithIndex.map { case (name, i) => name -> Main.median(rows.map(_(i)._2)) }
  }
}
