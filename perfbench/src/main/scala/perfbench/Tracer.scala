package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans and Spark scheduler events of one traced run, kept in memory and
  * written out when the run ends.
  *
  * A span is one call into a layer (an op, a query build, a plan, an
  * execution, an API method). Spans nest on the single client thread; the
  * id of the innermost open span is set as a Spark local property, so every
  * job the call starts carries its span id in `SparkListenerJobStart`.
  * Stages point at their job and tasks at their stage, which gives each
  * job, stage and task a parent id.
  *
  * With tracing off, `span` only runs its body: no listener is registered
  * and no property is set.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** Driver-thread time spent in span bookkeeping, the tracer's own cost on
    * the client's critical path. */
  var bookkeepingNs = 0L

  // written by the listener-bus thread, read after `drain()`
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(e.jobId, span, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.attemptNumber(), stageJob.getOrElse(i.stageId, -1), i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val duration = info.finishTime - info.launchTime
        val sched = math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime.max(0L).min(duration))
        tasks += Task(e.stageId, m.executorCpuTime, m.executorRunTime, sched,
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      bookkeepingNs += System.nanoTime() - b0
      try body
      finally {
        val b1 = System.nanoTime()
        s.endNs = b1
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
        bookkeepingNs += System.nanoTime() - b1
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchbridge.Bus.drain(sc)

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    val ids = mutable.HashSet(root.id)
    spans.iterator.drop(root.id + 1).foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  /** Scheduler totals of the jobs started inside the given spans. */
  def usage(spanIds: Set[Int]): Usage = synchronized {
    val js = jobs.values.filter(j => spanIds.contains(j.span)).toSeq
    val jobIds = js.map(_.id).toSet
    val ss = stages.filter(s => jobIds.contains(s.job))
    val stageIds = ss.map(_.id).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage))
    // union of the jobs' wall intervals: time the scheduler had work
    val busyMs = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (e <= end) (acc, end) else (acc + e - math.max(s, end), e)
      }._1
    Usage(js.size, ss.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.schedMs).sum / 1e3,
      ts.map(_.recordsIn).sum, ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum,
      ts.map(_.spill).sum, busyMs / 1e3)
  }

  /** Every span, job, stage and task of the run as one JSON document. */
  def toJson: String = synchronized {
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "seconds" -> s.seconds)).mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.values.map(j => Json.obj("id" -> j.id, "parent_span" -> j.span,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs)).mkString(",")
    sb ++= "],\"stages\":["
    sb ++= stages.map(s => Json.obj("id" -> s.id, "attempt" -> s.attempt,
      "parent_job" -> s.job, "tasks" -> s.tasks)).mkString(",")
    sb ++= "],\"tasks\":["
    sb ++= tasks.map(t => Json.obj("parent_stage" -> t.stage, "cpu_ns" -> t.cpuNs,
      "run_ms" -> t.runMs, "sched_ms" -> t.schedMs, "records_in" -> t.recordsIn,
      "shuffle_read" -> t.shuffleRead, "shuffle_write" -> t.shuffleWrite,
      "spill" -> t.spill)).mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class Job(id: Int, span: Int, startMs: Long) {
    var endMs: Long = startMs
  }
  final case class Stage(id: Int, attempt: Int, job: Int, tasks: Int)
  final case class Task(stage: Int, cpuNs: Long, runMs: Long, schedMs: Long,
      recordsIn: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
}

final case class Usage(jobs: Int, stages: Int, tasks: Int, cpuS: Double, schedS: Double,
    recordsIn: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, busyS: Double)
