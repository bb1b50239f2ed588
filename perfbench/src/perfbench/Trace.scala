package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed region: a pipeline phase or one public graft call. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around the pipeline's calls. In traced mode each span
  * also becomes the Spark job group, so task and plan metrics can be
  * attributed to the innermost span that started the job.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var pass = 0

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), pass, System.nanoTime())
    spans += s
    stack = s.id :: stack
    if (traced) spark.sparkContext.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(Tracer.group(p), spans(p).name, interruptOnCancel = false)
        case None    => spark.sparkContext.clearJobGroup()
      }
    }
  }

  def passSpans(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq

  /** Duration minus what the span's direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  def group(spanId: Int): String = s"perfbench-span-$spanId"
  def spanOf(group: String): Option[Int] =
    if (group != null && group.startsWith("perfbench-span-")) Some(group.stripPrefix("perfbench-span-").toInt)
    else None
}

/** Task counters per job group, fed by Spark's listener bus. */
final class TaskMeter extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, shuffleWrite, spill, input = 0L
  }
  val byGroup = mutable.Map.empty[String, Acc]
  val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    acc(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }
}

/** JVM heap figures. Driver and local executors share this JVM. */
object Heap {
  /** Heap in use right after a full collection: the live set, without the
    * garbage whose amount depends on when the collector last ran.
    */
  def liveBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
