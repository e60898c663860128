package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function. Times are seconds on the
  * wall clock (epoch based), so they line up with Spark's stage times. */
final class Span(val id: Int, val parent: Int, val layer: String,
                 val name: String, val start: Double) {
  var end: Double = start
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def attr(k: String, v: Double): Unit = attrs(k) = v
}

/** Span recorder for the traced run. Each span sets the thread's Spark job
  * group to its own id, so every Spark job the call submits is attributed
  * to the innermost open span; [[StageLog]] keeps the per-stage task
  * metrics. Spans stay in memory and are written out when the run ends.
  * When disabled, `span` only runs the body: no job group, no record. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val scratch = new Span(-1, -1, "", "", 0.0)

  def span[T](layer: String, name: String)(body: Span => T): T = {
    if (!enabled) return body(scratch)
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      layer, name, Clock.now())
    spans += s
    stack = s :: stack
    sc.setJobGroup(Tracer.group(s.id), s"${s.layer}:${s.name}")
    try body(s)
    finally {
      s.end = Clock.now()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), s"${p.layer}:${p.name}")
        case None => sc.clearJobGroup()
      }
    }
  }

  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "run_id" -> runId, "start" -> s.start,
      "end" -> s.end, "attrs" -> s.attrs)
  }
}

object Tracer {
  val GroupPrefix = "cdcbench-span-"
  def group(id: Int): String = GroupPrefix + id
  def spanOf(group: String): Int =
    if (group != null && group.startsWith(GroupPrefix))
      group.substring(GroupPrefix.length).toInt
    else -1
}

object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Wall-clock seconds with nanoTime resolution. */
  def now(): Double = (System.nanoTime() + offsetNs) / 1e9
}

/** The benchmark's own SparkListener: job → span attribution (through the
  * job group) and each completed stage's interval and task metrics. */
final class StageLog extends SparkListener {
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val span = Tracer.spanOf(g)
    jobSpan.put(js.jobId, span)
    js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
    jobs.add(Map("job" -> js.jobId, "span" -> span, "start" -> js.time / 1e3))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
    val span = Option(jobSpan.get(job)).map(_.intValue).getOrElse(-1)
    val m = i.taskMetrics
    val rec = mutable.LinkedHashMap[String, Any](
      "stage" -> i.stageId, "job" -> job, "span" -> span,
      "map" -> org.apache.spark.BenchSparkAccess.isShuffleMap(i),
      "start" -> i.submissionTime.getOrElse(0L) / 1e3,
      "end" -> i.completionTime.getOrElse(0L) / 1e3,
      "tasks" -> i.numTasks)
    if (m != null) {
      rec ++= Seq(
        "cpu_s" -> m.executorCpuTime / 1e9,
        "run_s" -> m.executorRunTime / 1e3,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_bytes" -> (m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead),
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    stages.add(rec.toMap)
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.asScala.toSeq
  def stageRecords: Seq[Map[String, Any]] = stages.asScala.toSeq
}
