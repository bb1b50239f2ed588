package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings graft assumes everywhere:
  * UTC, AQE on, shuffle parallelism sized to the machine (32 locally;
  * on a real cluster this is set per-job or left to AQE coalescing).
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // nanosecond parquet timestamps surface as long (epoch nanos);
      // graft normalizes them via TimeOps.nanosToTimestamp
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // one timestamp flavor engine-wide: naive parquet timestamps
      // read as UTC instants (see BioLoader.normalizeNtz)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Every graft TypedImperativeAggregate carries BOUNDED
      // per-group state (k-entry TopK heaps, capped sets,
      // fixed-width sketches) — operators that genuinely need an
      // unbounded per-group collect (funnel step lists, doc-line
      // rebuilds, covered-index sets) aggregate through spillable
      // window functions instead, never groupBy+collect_* (pinned
      // by PlanQualitySpec) — so ObjectHashAggregate's 128-key
      // sort-based fallback — sized for unbounded collect_list
      // buffers — is pure pathology here: a million-group top-k
      // (the kNN graph) degenerates into a full sort of the
      // candidate stream. Measured at 1M vectors / 2.9e8 candidates:
      // 344 s -> 38.6 s (8.9x) with the hash path held
      // (SCALEPROBE_r14 §2). 1M keys × ~200 B bounded buffers ≈
      // 200 MB/task ceiling — safe at executor sizes that could run
      // the aggregation at all.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
}
