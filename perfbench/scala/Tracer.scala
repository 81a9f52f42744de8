package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span tracing around the benchmark's calls into the program's layers.
  *
  * A span is (name, start, end, parent, run id); the run id is the index of
  * the timed operation, so all spans of one operation share it. While a span
  * is open the calling thread carries its id in the Spark local property
  * [[SpanProperty]]; one SparkListener files every job under the span whose
  * id it carries. Threads that inherited a stale copy of the property (pool
  * threads inside the program) are caught by checking that the carried span
  * was open when the job started; otherwise the job goes to the innermost
  * span open at that time. The benchmark drives the program from one thread,
  * so spans never overlap except by nesting.
  *
  * Everything is kept in memory and reduced or written out after the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[SpanRec]()
  private val stack = mutable.Stack[SpanRec]()
  private var nextId = 1L
  @volatile var enabled = false
  var runId = 0

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val progress = mutable.ArrayBuffer[Progress]()

  /** Run `body` inside a span named `name` (a plain call when disabled). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = SpanRec(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
        runId, nowMs)
      nextId += 1
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack.pop()
        sc.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, prop.map(_.toLong).getOrElse(0L))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  /** Records micro-batch progress in both run modes: the stream workload's
    * operation latencies come from it. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        def d(k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        progress += Progress(start, d("triggerExecution"), d("addBatch"),
          d("queryPlanning"), d("walCommit"), p.numInputRows)
      }
  }

  spark.streams.addListener(streamListener)

  def attach(): Unit = sc.addSparkListener(sparkListener)

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def detach(): Unit = { drain(); sc.removeSparkListener(sparkListener) }

  def clearProgress(): Unit = lock.synchronized(progress.clear())

  def progressSnapshot: Seq[Progress] = lock.synchronized(progress.toVector)

  private def jobSnapshot: Vector[JobRec] = lock.synchronized(jobs.values.toVector)

  /** Per-(run id, span name) totals of the five span measures. */
  def spanTotals(): Map[(Int, String), Measures] = {
    drain()
    val js = jobSnapshot
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def openAt(s: SpanRec, t: Double) = s.startMs <= t && t <= s.endMs
    def owner(j: JobRec): Option[SpanRec] =
      byId.get(j.spanId).filter(openAt(_, j.startMs)).orElse(
        spans.filter(openAt(_, j.startMs)).sortBy(-_.startMs).headOption)
    val owned = js.groupBy(j => owner(j).map(_.id).getOrElse(0L))
    val jobIntervals = js.filter(_.endMs > 0).map(j => (j.startMs, j.endMs))
    val out = mutable.HashMap[(Int, String), Measures]()
    spans.foreach { s =>
      val self = subtract(Seq((s.startMs, s.endMs)),
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq)
      val selfMs = length(self)
      val gapMs = length(subtract(self, jobIntervals))
      val mine = owned.getOrElse(s.id, Nil)
      val m = out.getOrElseUpdate((s.runId, s.name), new Measures)
      m.selfS += selfMs / 1000
      m.jobs += mine.size
      m.gapS += gapMs / 1000
      m.cpuS += mine.map(_.cpuNs).sum / 1e9
      m.shuffleBytes += mine.map(_.shuffleBytes).sum
      m.outputBytes += mine.map(_.outputBytes).sum
    }
    out.toMap
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Double, toMs: Double): Int =
    jobSnapshot.count(j => j.startMs >= fromMs && j.startMs <= toMs)

  /** Spans as JSON lines, for the spans file. */
  def spanLines: Seq[String] = spans.map(s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.runId},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""").toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class SpanRec(id: Long, name: String, parent: Long, runId: Int,
      startMs: Double) {
    var endMs: Double = Double.MaxValue
  }

  final case class JobRec(jobId: Int, startMs: Double, spanId: Long) {
    var endMs: Double = 0
    var cpuNs: Long = 0
    var shuffleBytes: Long = 0
    var outputBytes: Long = 0
  }

  final case class Progress(startMs: Double, triggerS: Double, addBatchS: Double,
      planningS: Double, walCommitS: Double, rows: Long)

  final class Measures {
    var selfS = 0.0
    var jobs = 0
    var gapS = 0.0
    var cpuS = 0.0
    var shuffleBytes = 0L
    var outputBytes = 0L
  }

  private def merge(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  /** `from` minus the union of `cut`. */
  def subtract(from: Seq[(Double, Double)], cut: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val c = merge(cut)
    merge(from).flatMap { case (s0, e0) =>
      val pieces = mutable.ArrayBuffer[(Double, Double)]()
      var s = s0
      c.foreach { case (a, b) =>
        if (b > s && a < e0) {
          if (a > s) pieces += ((s, a))
          s = math.max(s, b)
        }
      }
      if (s < e0) pieces += ((s, e0))
      pieces
    }
  }

  def length(iv: Seq[(Double, Double)]): Double = iv.map(i => i._2 - i._1).sum
}
