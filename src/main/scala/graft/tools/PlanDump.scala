package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for selected registry queries to
  * files — the r16 optimization round's plan-evidence harness
  * (plans/r16/<name>_<tag>.txt). Session config mirrors Bench so
  * the captured plan is the one the bench actually executes.
  *
  * Run: `sbt "runMain graft.tools.PlanDump <tag> <query>[,<query>...]"`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_PLAN_DIR (default plans/r16).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <tag> <q1,q2,...>")
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r16")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
