package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // free pinned checkpoint/shuffle blocks between queries (see
      // Bench.scala) — a 245-query pass otherwise never driver-GCs
      .config("spark.cleaner.periodicGC.interval", "60s")
      // harness resilience at heavy local load: the r12 sf1 sweep
      // died mid-pass when an 18-minute spill-bound query starved
      // the in-process driver RPC long enough for 60 straight
      // heartbeat failures (executor exit 56). Local mode has no
      // network to detect failures on — relax the liveness knobs so
      // a saturated box can't kill its own sweep.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // big-SF sweeps: let streams run past the default 120 s cap
    sys.env.get("SPARK_GRAFT_STREAM_TIMEOUT_MS")
      .foreach(v => spark.conf.set("spark.graft.streamTimeoutMs", v))
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for fast local iteration
    // (the driver never sets it — all queries run)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS dump the FULL oracle map: the SPARK_GRAFT_ONLY filter
    // applies to query execution only — a filtered dump would
    // clobber a previous full run's oracle_sql.json in the same
    // outDir and silently shrink a later whole-registry compare to
    // the subset (bit an r9 scalecheck)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
