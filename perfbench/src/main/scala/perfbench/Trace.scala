package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of the traced run. Spans nest
  * run → pass → query → {build, exec} → job → stage; `parent` is the
  * id of the enclosing span (0 for the run). Times are epoch ms. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  def durMs: Double = endMs - startMs
  def pass: Int = attrs.get("pass").fold(0)(_.asInstanceOf[Int])
  def str(k: String): String = attrs.get(k).fold("")(_.toString)
  def num(k: String): Double = attrs.get(k).fold(0.0) {
    case n: Number => n.doubleValue
    case _ => 0.0
  }
}

/** Spans, kept in memory and written out when the run ends. The
  * benchmark opens run/pass/query/build/exec spans around its own calls
  * into the program; as a SparkListener it adds a span per job and per
  * stage. A job is tied to the build or exec span that was current on
  * the submitting thread through the [[Trace.SpanProp]] local property,
  * which Spark carries into the threads it spawns for a query (broadcast
  * and subquery jobs). Task metrics are summed onto their stage span. */
final class Trace extends SparkListener {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val jobOfStage = new ConcurrentHashMap[Int, Span]()
  private val stageSpans = new ConcurrentHashMap[(Int, Int), Span]()
  /** (pass, launch ms, finish ms) of every finished task. */
  val taskIntervals = new ConcurrentLinkedQueue[(Int, Long, Long)]()

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def open(parent: Long, kind: String, name: String,
      attrs: (String, Any)*): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, nowMs)
    // query-level attributes flow down the tree, so a stage can be
    // attributed to its query, module, phase and pass
    Option(byId.get(parent)).foreach(p => s.attrs ++= p.attrs)
    s.attrs ++= attrs
    byId.put(s.id, s)
    spans.add(s)
    s
  }

  def close(s: Span): Unit = s.endMs = nowMs

  def all: Seq[Span] = spans.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .fold(0L)(_.toLong)
    val s = new Span(ids.incrementAndGet(), parent, "job",
      s"job ${e.jobId}", e.time.toDouble)
    Option(byId.get(parent)).foreach(p => s.attrs ++= p.attrs)
    byId.put(s.id, s)
    byId.put(-1L - e.jobId, s) // job id → span, for onJobEnd
    spans.add(s)
    e.stageIds.foreach(st => jobOfStage.put(st, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.remove(-1L - e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val job = jobOfStage.get(info.stageId)
    val s = new Span(ids.incrementAndGet(),
      Option(job).fold(0L)(_.id), "stage", s"stage ${info.stageId}",
      info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    Option(job).foreach(j => s.attrs ++= j.attrs)
    s.attrs ++= Seq("tasks" -> 0, "cpu_s" -> 0.0, "run_s" -> 0.0,
      "gc_s" -> 0.0, "shuffle_write_bytes" -> 0L, "spill_bytes" -> 0L,
      "sched_wait_s" -> 0.0)
    stageSpans.put((info.stageId, info.attemptNumber()), s)
    spans.add(s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpans.remove((info.stageId, info.attemptNumber())))
      .foreach { s =>
        s.endMs = info.completionTime
          .getOrElse(System.currentTimeMillis()).toDouble
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpans.get((e.stageId, e.stageAttemptId))
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (s != null) s.attrs.synchronized {
      def add(k: String, v: Double): Unit = s.attrs(k) = s.num(k) + v
      def addL(k: String, v: Long): Unit =
        s.attrs(k) = s.attrs(k).asInstanceOf[Long] + v
      s.attrs("tasks") = s.attrs("tasks").asInstanceOf[Int] + 1
      add("sched_wait_s",
        math.max(0.0, ti.launchTime - s.startMs) / 1000.0)
      if (m != null) {
        add("cpu_s", m.executorCpuTime / 1e9)
        add("run_s", m.executorRunTime / 1000.0)
        add("gc_s", m.jvmGCTime / 1000.0)
        addL("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        addL("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      taskIntervals.add((s.pass, ti.launchTime, ti.finishTime))
    }
  }
}

object Trace {
  /** Local property naming the span that submits a job. */
  val SpanProp = "perfbench.span"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (curE.isNaN || a > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of that
    * interval its child spans cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filterNot(_.endMs.isNaN).map { s =>
      val cs = kids.getOrElse(s.id, Nil).filterNot(_.endMs.isNaN)
        .map(c => (c.startMs, c.endMs))
      s.id -> math.max(0.0, s.durMs - covered(cs, s.startMs, s.endMs))
    }.toMap
  }
}
