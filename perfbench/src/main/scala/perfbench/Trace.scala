package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory spans recorded by the benchmark around calls into the
  * program's modules, plus the Spark work each span caused.
  *
  * Every span sets the `perfbench.span` local property while it is open,
  * so each Spark job it submits carries the span's id; the listener maps
  * job → stages → tasks back to the innermost open span. Spans are only
  * opened from the benchmark's one thread, so they nest strictly.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  val listener = new WorkListener

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id), name, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Property, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Property, open.headOption.map(_.id.toString).orNull)
    }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Stop listening once every queued event is delivered. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spans.foreach(s => s.work = listener.workOf(s.id))
    spans.toSeq
  }
}

object Trace {
  val Property = "perfbench.span"

  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskFailures = 0L
    var runS = 0.0
    var gcS = 0.0
    var spillBytes = 0L
    var shuffleBytes = 0L
    def +=(o: Work): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskFailures += o.taskFailures; runS += o.runS; gcS += o.gcS
      spillBytes += o.spillBytes; shuffleBytes += o.shuffleBytes
    }
  }

  final case class Span(id: Int, parent: Option[Int], name: String, start: Long) {
    var end: Long = start
    var work: Work = new Work
    def seconds: Double = (end - start) / 1e9
  }

  /** Spark work per span id; jobs without a span land on id -1. */
  final class WorkListener extends SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val work = mutable.Map.empty[Int, Work]
    private def at(id: Int): Work = work.getOrElseUpdate(id, new Work)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
        .map(_.toInt).getOrElse(-1)
      at(id).jobs += 1
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      at(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val w = at(stageSpan.getOrElse(e.stageId, -1))
      w.tasks += 1
      if (e.reason != org.apache.spark.Success) w.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        w.runS += m.executorRunTime / 1e3
        w.gcS += m.jvmGCTime / 1e3
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def workOf(id: Int): Work = synchronized(work.getOrElse(id, new Work))
    def unattributed: Work = workOf(-1)
  }

  /** Self time: the span's duration minus the part its children cover
    * (children never overlap: one thread opens them in turn).
    */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent.contains(s.id)).map(_.seconds).sum

  /** A span's work including all of its descendants. */
  def subtreeWork(s: Span, all: Seq[Span]): Work = {
    val w = new Work
    w += s.work
    all.filter(_.parent.contains(s.id)).foreach(c => w += subtreeWork(c, all))
    w
  }

  def toJson(spans: Seq[Span], t0: Long): String =
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent.map(_.toString).getOrElse("null")},""" +
        f""""name":"${s.name}","start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s, spans)}%.6f,"task_s":${s.work.runS}%.3f,"jobs":${s.work.jobs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
