package graft

import org.apache.spark.sql.SparkSession

/** Central registry of `spark.graft.*` runtime confs.
  *
  * Every embedded scale ceiling in the operators reads through here:
  * the defaults are the values measured on this build's reference
  * box (128 GiB, local[32] — see SCALEPROBE_r12.md for the probe
  * tables behind each number), but a real deployment with 4–8 GB
  * executors can lower the broadcast ceilings — and a fatter one can
  * raise the fit samples — per-session, without recompiling. All
  * keys are plain `spark.conf.set`-able at any point before the
  * operator runs (they are read at plan-build time, not captured at
  * session start).
  */
object GraftConf {

  /** Edge-count ceiling for broadcasting the triangle close join's
    * edge list (≈24 B/edge → ≈384 MB hashed at the default). The
    * alternative shuffles the O(m^1.5) wedge frame, so executors
    * with a few GB of memory prefer the broadcast well past Spark's
    * 10 MB autoBroadcast default — but a 1 GB-driver deployment must
    * lower this (the list is collected to the driver to ship).
    */
  val TriangleBroadcastMaxEdges = "spark.graft.graph.triangleBroadcastMaxEdges"

  /** Node-count ceiling for broadcasting node-sized frames (degree
    * tables, label/rank vectors) into edge-frame joins
    * (≈24 B/node → ≈100 MB hashed at the default).
    */
  val DegreeBroadcastMaxNodes = "spark.graft.graph.degreeBroadcastMaxNodes"

  /** Edge-count ceiling for solving duplicate-cluster connected
    * components with a driver-side union-find instead of the
    * distributed star-contraction loop (duplicate-pair edge sets are
    * usually ≪ corpus; union-find is O(E·α) with zero shuffles).
    */
  val DedupDriverEdgeThreshold = "spark.graft.dedup.driverEdgeThreshold"

  /** Upper bound on driver-collected vectors for ANN / k-means / PQ
    * codebook fits (bounds driver memory at any corpus scale;
    * 65536 × 64-dim doubles ≈ 32 MB at the default).
    */
  val AnnFitMaxSample = "spark.graft.ann.fitMaxSample"

  /** Estimated-bytes threshold above which
    * [[graft.operators.MiningOps]] materializes its multi-consumer
    * basket frames instead of recomputing them per consumer.
    */
  val MiningMaterializeAutoBytes = "spark.graft.mining.materializeAutoBytes"

  def triangleBroadcastMaxEdges(spark: SparkSession): Long =
    longConf(spark, TriangleBroadcastMaxEdges, 16000000L)

  def miningMaterializeAutoBytes(spark: SparkSession): Long =
    longConf(spark, MiningMaterializeAutoBytes, 1L << 30)

  def degreeBroadcastMaxNodes(spark: SparkSession): Long =
    longConf(spark, DegreeBroadcastMaxNodes, 4000000L)

  def dedupDriverEdgeThreshold(spark: SparkSession): Long =
    longConf(spark, DedupDriverEdgeThreshold, 2000000L)

  def annFitMaxSample(spark: SparkSession): Int = {
    val v = longConf(spark, AnnFitMaxSample, 65536L)
    require(v > 0 && v <= Int.MaxValue, s"$AnnFitMaxSample must be in (0, 2^31), got $v")
    v.toInt
  }

  private def longConf(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key) match {
      case Some(s) =>
        try s.trim.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"$key must be a long, got '$s'")
        }
      case None => default
    }
}
