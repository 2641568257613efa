package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans the benchmark records around its own calls into the engine's layers.
  *
  * The benchmark calls layers from one thread, one call at a time, so a plain
  * stack gives each span its parent. Spans stay in memory and are written out
  * with the report when the run ends. A disabled tracer runs the body and
  * records nothing (the untimed, untraced path of every workload). */
final class Tracer(var enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                   val startNs: Long) {
    var endNs: Long = -1L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  // epoch anchor: Spark stamps job events with wall-clock milliseconds
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Index of the operation the next root span belongs to. */
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, op,
        System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Attach a count to the innermost open span (no-op when disabled). */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  private def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs),
      "attrs" -> s.attrs.toMap)
  }
}

/** Folds Spark's job and task events into per-job and per-stage records.
  *
  * Attribution to spans happens after the run, from the job submission time
  * (see perfbench/judge.py): the engine submits jobs from its own pool
  * threads, so thread-local job properties set by the benchmark would not
  * reach them. The listener lives only in the traced run. */
final class TaskLedger extends SparkListener {
  final class StageAcc {
    var tasks = 0L
    var failed = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final case class Job(id: Int, submitMs: Long, stages: Seq[Int], description: String) {
    var endMs: Long = -1L
    var ok: Boolean = false
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val drained = new CountDownLatch(1)
  private var markerJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(TaskLedger.MarkerKey) != null)) markerJob = e.jobId
    else {
      // description, group and tags name who submitted the job (e.g. a
      // "broadcast exchange" job of a broadcast join)
      val desc = Seq("spark.job.description", "spark.jobGroup.id", "spark.job.tags")
        .flatMap(k => props.flatMap(p => Option(p.getProperty(k)))).mkString(" | ")
      jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds, desc)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == markerJob) drained.countDown() // every earlier event is in
    else jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.getOrElseUpdate(e.stageId, new StageAcc)
    acc.tasks += 1
    if (e.reason != Success) acc.failed += 1
    acc.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.runMs += m.executorRunTime
      acc.gcMs += m.jvmGCTime
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.inputRecords += m.inputMetrics.recordsRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Block until the listener bus has delivered every event of the jobs run so
    * far: a marker job's end arrives after all earlier events on this queue. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(TaskLedger.MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(TaskLedger.MarkerKey, null)
    require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "submit_ms" -> j.submitMs,
        "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stages, "description" -> j.description)),
      "stages" -> stages.toSeq.sortBy(_._1).map { case (id, a) =>
        Map("id" -> id, "tasks" -> a.tasks, "failed" -> a.failed, "cpu_ns" -> a.cpuNs,
          "run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "input_bytes" -> a.inputBytes,
          "input_records" -> a.inputRecords, "shuffle_write_bytes" -> a.shuffleWrite,
          "spill_bytes" -> a.spill,
          "durations_ms" -> a.durations.toSeq)
      })
  }
}

object TaskLedger {
  val MarkerKey = "perfbench.drain"
}
