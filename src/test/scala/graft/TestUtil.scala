package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Shared test helpers. */
object TestUtil {

  /** Runs `body` under one `onJobStart` listener and returns its result
    * with one line per Spark job it started: "job <id>: <stage names>"
    * (the callsite-bearing stage names say WHAT ran; the optional
    * description is usually absent for library-triggered jobs). */
  def countJobs[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val (out, jobs, _, _) = countRuns(spark)(body)
    (out, jobs)
  }

  /** [[countJobs]] plus one line per SQL execution (a Dataset action
    * planned through Catalyst) that `body` started: "sql <id>: <desc>",
    * and one line per stage that ran: "stage <id>: <name> (<n> tasks)".
    * A stage a job skipped (its shuffle output already exists) never
    * completes, so it is not listed. Every job and execution was
    * SUBMITTED synchronously inside `body`, and `body` returns only
    * after its jobs finished, so every event is already queued: the bus
    * is drained before the lists are read. This is the one test-side
    * listener; job pins and [[JobListProbe]] read it. */
  def countRuns[A](spark: SparkSession)(body: => A)
  : (A, Seq[String], Seq[String], Seq[String]) = {
    val jobs, sqls, stages = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(s"job ${j.jobId}: " +
          j.stageInfos.map(_.name).mkString(" ~ "))
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        stages.add(s"stage ${st.stageInfo.stageId}: ${st.stageInfo.name} " +
          s"(${st.stageInfo.numTasks} tasks)")
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sqls.add(s"sql ${x.executionId}: ${x.description}")
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftSparkInternals
        .waitUntilListenerBusEmpty(spark.sparkContext)
      (out, jobs.asScala.toSeq, sqls.asScala.toSeq, stages.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` with the given keys set on the test session's conf,
    * then restores each key's previous value, or unsets it if it had
    * none — the shared session leaves every test in the state it found
    * it. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val conf = SparkTestSession.spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Normalized mutual information between two labelings (the
    * reference's grading metric for clustering, Assignment5 PDF §4.3). */
  def nmi(a: Seq[Int], b: Seq[Int]): Double = {
    require(a.length == b.length && a.nonEmpty)
    val n = a.length.toDouble
    def entropy(xs: Seq[Int]): Double =
      xs.groupBy(identity).values.map { g =>
        val p = g.size / n; -p * math.log(p)
      }.sum
    val ha = entropy(a); val hb = entropy(b)
    val pa = a.groupBy(identity).map { case (k, v) => k -> v.size / n }
    val pb = b.groupBy(identity).map { case (k, v) => k -> v.size / n }
    val mi = a.zip(b).distinct.map { case (x, y) =>
      val pxy = a.zip(b).count(_ == (x, y)) / n
      pxy * math.log(pxy / (pa(x) * pb(y)))
    }.sum
    if (ha == 0.0 || hb == 0.0) 0.0 else mi / math.sqrt(ha * hb)
  }

  /** Deterministic pseudo-random double in [0,1) from an integer key. */
  def det01(key: Long): Double = {
    val h = key * 6364136223846793005L + 1442695040888963407L
    ((h >>> 11) % 1000003L).toDouble / 1000003.0
  }
}
