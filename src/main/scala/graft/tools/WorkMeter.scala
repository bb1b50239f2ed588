package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder

/** Drift-insensitive work meter for A/B comparisons on an
  * oscillating host: per query, sum task-level executor CPU time,
  * run time, shuffle bytes, input bytes and task count over a
  * count() action — byte and task counts are deterministic, CPU
  * time is far less sensitive to hypervisor contention than wall
  * clock. One discard pass per query first (codegen/page cache).
  *
  * Run: `sbt "runMain graft.tools.WorkMeter <q1,q2,...>"`
  */
object WorkMeter {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: WorkMeter <q1,q2,...>")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpu = new LongAdder; val run = new LongAdder; val tasks = new LongAdder
    val shRead = new LongAdder; val shWrite = new LongAdder; val input = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          cpu.add(m.executorCpuTime); run.add(m.executorRunTime)
          shRead.add(m.shuffleReadMetrics.totalBytesRead)
          shWrite.add(m.shuffleWriteMetrics.bytesWritten)
          input.add(m.inputMetrics.bytesRead)
          tasks.add(1L)
        }
      }
    })
    def reset(): Unit = { cpu.reset(); run.reset(); tasks.reset(); shRead.reset(); shWrite.reset(); input.reset() }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      fn(spark, sfDir).count() // discard pass
      Thread.sleep(400) // let straggler TaskEnd events drain
      reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let straggler TaskEnd events drain
      println(f"[work] $name wall=$wall%.2fs cpu=${cpu.sum / 1e9}%.2fs run=${run.sum / 1e9}%.2fs " +
        f"tasks=${tasks.sum} input=${input.sum / 1e6}%.1fMB shufW=${shWrite.sum / 1e6}%.1fMB shufR=${shRead.sum / 1e6}%.1fMB")
    }
    spark.stop()
  }
}
