package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a pass, or a layer call inside it. */
final case class Span(id: Int, name: String, parent: Int, pass: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-span scheduler totals collected by [[JobListener]]. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskNs, shuffleWrite, shuffleRead, spill = 0L
}

/** SparkListener that attributes every job, submitted stage and finished
  * task to the span that was open on the submitting thread (carried as
  * the job's `graftbench.span` local property).
  */
final class JobListener extends SparkListener {
  val work = mutable.HashMap.empty[Int, Work]
  val jobs = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // (job, span, start ms, end ms)
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def of(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.Key)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((e.jobId, jobSpan.getOrElse(e.jobId, -1), jobStart.getOrElse(e.jobId, e.time), e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskNs += m.executorRunTime * 1000000L
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.diskBytesSpilled
    }
  }

  def total(spans: Iterable[Int]): Work = synchronized {
    val t = new Work
    spans.flatMap(work.get).foreach { w =>
      t.jobs += w.jobs; t.stages += w.stages; t.tasks += w.tasks; t.taskNs += w.taskNs
      t.shuffleWrite += w.shuffleWrite; t.shuffleRead += w.shuffleRead; t.spill += w.spill
    }
    t
  }
}

object JobListener { val Key = "graftbench.span" }

/** Span recorder. Spans stay in memory; [[Tracer.json]] writes them out
  * at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def span[T](name: String, parent: Int, pass: String)(body: Int => T): (T, Span) = {
    val id = next
    next += 1
    val before = sc.getLocalProperty(JobListener.Key)
    sc.setLocalProperty(JobListener.Key, id.toString)
    val t0 = System.nanoTime()
    try {
      val out = body(id)
      val s = Span(id, name, parent, pass, t0, System.nanoTime())
      spans += s
      (out, s)
    } finally sc.setLocalProperty(JobListener.Key, before)
  }

  /** `body` as a child span of `parent`; its value. */
  def layer[T](name: String, parent: Int, pass: String)(body: => T): T =
    span(name, parent, pass)(_ => body)._1

  def find(name: String, pass: String): Span = spans.find(s => s.name == name && s.pass == pass).get

  /** Self time: duration minus the part covered by child layer spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def json(listener: JobListener, t0: Long): String = {
    val layer = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":"${s.pass}",""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},"self_s":${selfSeconds(s)}}"""
    }
    val jobs = listener.jobs.map { case (j, span, a, b) =>
      s"""{"name":"spark.job.$j","parent":$span,"start_ms":$a,"end_ms":$b}"""
    }
    (layer ++ jobs).mkString("[", ",\n", "]")
  }
}
