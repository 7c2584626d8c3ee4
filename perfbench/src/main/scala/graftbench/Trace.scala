package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed call. Times are wall-clock milliseconds as doubles so they
  * line up with the Spark listener's event times. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

object Span {

  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time in seconds: the span minus the part of it covered by its
    * direct children. */
  def selfSeconds(span: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == span.id).map(s => (s.start, s.end))
    (span.end - span.start - covered(kids, span.start, span.end)) / 1000.0
  }
}

/** What a workload pass calls into the library through. The untraced
  * form only runs the call; [[Tracer]] wraps it in a span and
  * materializes its output at the span's boundary. */
trait Calls {
  /** A library call returning a frame. */
  def df(name: String)(body: => DataFrame): DataFrame
  /** A library call returning anything else (models, eager results). */
  def value[A](name: String)(body: => A): A
}

object Untraced extends Calls {
  def df(name: String)(body: => DataFrame): DataFrame = body
  def value[A](name: String)(body: => A): A = body
}

/** Records spans in memory and tags every Spark job started inside a span
  * with the span's id (a local property, inherited by the AQE and
  * broadcast threads that start jobs on the caller's behalf). */
final class Tracer(sc: SparkContext, val runId: String) extends Calls {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Finished spans, in start order. */
  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  def value[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = now()
    stack = id :: stack
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try body
    finally {
      sc.setLocalProperty(Tracer.SpanKey, prev)
      stack = stack.tail
      spans += Span(id, name, parent, runId, start, now())
    }
  }

  def df(name: String)(body: => DataFrame): DataFrame =
    value(name)(body.localCheckpoint(eager = true))

  private def now(): Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs
}

object Tracer {
  val SpanKey = "graftbench.span"
  /** Maps `System.nanoTime` onto the wall clock once, so spans are
    * monotonic yet comparable with listener event times. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}

/** Task-level totals of one stage, span or run. */
final class TaskTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0.0
  var cpuNs = 0.0
  var schedDelayMs = 0.0
  var shuffleWriteBytes = 0.0
  var shuffleReadBytes = 0.0
  var spillBytes = 0.0
  var peakMemBytes = 0.0
  val taskRunMs = mutable.ArrayBuffer.empty[Double]

  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; peakMemBytes = peakMemBytes.max(o.peakMemBytes)
  }
}

/** Job, stage and task counters, attributed to spans. Task numbers come
  * from `SparkListenerTaskEnd.taskMetrics` only (never from accumulators
  * looked up by id). A job carries the span id of the thread that started
  * it; a job without one (a thread that did not inherit the caller's
  * properties) lands in the innermost span open at its start time. */
final class SpanListener extends SparkListener {
  private val jobs = mutable.HashMap.empty[Int, SpanListener.Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTotals = mutable.HashMap.empty[Int, TaskTotals]

  private def stage(id: Int) = stageTotals.getOrElseUpdate(id, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt)
    jobs(e.jobId) = SpanListener.Job(tag, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stage(e.stageId)
    t.tasks += 1
    if (!e.taskInfo.successful) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime.toDouble
      t.cpuNs += m.executorCpuTime.toDouble
      val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      t.schedDelayMs += math.max(0L, delay).toDouble
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten.toDouble
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead.toDouble
      t.spillBytes += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      t.peakMemBytes = t.peakMemBytes.max(m.peakExecutionMemory.toDouble)
      t.taskRunMs += m.executorRunTime.toDouble
    }
  }

  /** Span of every job seen, resolved against the finished `spans`. */
  private def jobSpans(spans: Seq[Span]): Map[Int, Int] = jobs.map { case (id, j) =>
    id -> j.tag.getOrElse(
      spans.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1))
  }.toMap

  /** Totals per span id (span -1 collects jobs outside every span). */
  def perSpan(spans: Seq[Span]): Map[Int, TaskTotals] = synchronized {
    val js = jobSpans(spans)
    val out = mutable.HashMap.empty[Int, TaskTotals]
    js.values.foreach(s => out.getOrElseUpdate(s, new TaskTotals).jobs += 1)
    stageTotals.foreach { case (st, t) =>
      val s = stageJob.get(st).flatMap(js.get).getOrElse(-1)
      out.getOrElseUpdate(s, new TaskTotals).add(t)
    }
    out.toMap
  }

  /** Max over median task run time in the stage with the most task time,
    * among the stages whose job belongs to one of `ids`. */
  def skew(spans: Seq[Span], ids: Set[Int]): Double = synchronized {
    val js = jobSpans(spans)
    val mine = stageTotals.filter { case (st, t) =>
      t.taskRunMs.nonEmpty && stageJob.get(st).flatMap(js.get).exists(ids.contains)
    }.values
    if (mine.isEmpty) 1.0
    else {
      val heavy = mine.maxBy(_.runMs).taskRunMs.toSeq
      val med = Stats.median(heavy)
      if (med <= 0) 1.0 else heavy.max / med
    }
  }

  /** Wall milliseconds of `[lo, hi)` during which any job was running. */
  def jobCoveredMs(lo: Double, hi: Double): Double = synchronized {
    Span.covered(jobs.values.map(j => (j.start, if (j.end.isNaN) hi else j.end)).toSeq, lo, hi)
  }
}

object SpanListener {
  private final class Job(val tag: Option[Int], val start: Double, var end: Double)
  private object Job {
    def apply(tag: Option[Int], start: Double, end: Double) = new Job(tag, start, end)
  }
}
