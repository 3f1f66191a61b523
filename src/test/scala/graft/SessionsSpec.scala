package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The test session, the probes and the benchmark run on the conf the
  * oracle gate verifies ([[Sessions.conf]]). */
class SessionsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Executed plan text with expression and exchange ids blanked. */
  private def planOf(s: org.apache.spark.sql.SparkSession,
      name: String): String =
    SparkEntry.queries(name)(s, sfDir).queryExecution.executedPlan
      .toString.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "")

  test("the test session plans q93 and q147 exactly as a session with " +
      "every SQL key of Sessions.conf set explicitly") {
    val verified = spark.newSession()
    Sessions.conf(4).foreach { case (k, v) =>
      if (k.startsWith("spark.graft.") || verified.conf.isModifiable(k))
        verified.conf.set(k, v)
    }
    Seq("q93_cf_eval", "q147_cos_pairs").foreach { q =>
      val (test, gate) = (planOf(spark, q), planOf(verified, q))
      assert(test == gate, s"$q: test-session plan\n$test\n" +
        s"differs from the verified-conf plan\n$gate")
    }
    assert(planOf(spark, "q147_cos_pairs").contains("graft_cos"),
      "q147 must run the fused kernel in the test session")
  }

  test("perfbench's restated session conf equals Sessions.conf") {
    // the benchmark is a separate build that cannot import Sessions,
    // so its copy (Runner.verifyConf) is read as text and compared
    val src = new String(Files.readAllBytes(
      Paths.get("perfbench/src/main/scala/perfbench/Runner.scala")), "UTF-8")
    val start = src.indexOf("def verifyConf(")
    assert(start >= 0, "Runner.verifyConf not found")
    val body = src.substring(start, src.indexOf("\n\n", start))
    val n = 3
    val pair = "\"([^\"]+)\"\\s*->\\s*(s\"local\\[\\$cpus\\]\"|cpus\\.toString|\"[^\"]*\")".r
    val parsed = pair.findAllMatchIn(body).map { m =>
      m.group(1) -> (m.group(2) match {
        case "s\"local[$cpus]\"" => s"local[$n]"
        case "cpus.toString" => n.toString
        case lit => lit.stripPrefix("\"").stripSuffix("\"")
      })
    }.toSeq
    assert(parsed.size == "->".r.findAllIn(body).size,
      s"unparsed pair in Runner.verifyConf:\n$body")
    assert(parsed == Sessions.conf(n))
  }

  test("the between-query sweep keeps only live Memo RDDs and keep, " +
      "and logs no warning for the local checkpoints it drops") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("sweep-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      val memo = Memo.of(spark, "sweep", "kept") {
        spark.range(5).toDF("id")
      }
      memo.count()
      val cps = (1 to 3).map(i => spark.range(i).toDF("id").localCheckpoint())
      val plain = spark.sparkContext.parallelize(1 to 4).cache()
      plain.count()
      val kept = spark.sparkContext.parallelize(1 to 4).cache()
      kept.count()
      assert(cps.forall(_.count() > 0))
      val swept = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !Memo.liveIds(spark)(id) && id != kept.id }
        .values.map(_.getClass.getName).toSet
      assert(swept.contains("org.apache.spark.rdd.MapPartitionsRDD"), swept)
      Sessions.dropCheckpoints(spark, Set(kept.id))
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet ==
        Memo.liveIds(spark) + kept.id)
      assert(Memo.liveIds(spark).nonEmpty, "the memo entry stays live")
      Memo.clear(spark)
      val warned = seen.asScala.filter(_.contains("locally checkpointed"))
      assert(warned.isEmpty, warned.mkString("\n"))
      // the sweep gave the loggers it quieted their level back
      swept.foreach { n =>
        assert(!ctx.getConfiguration.getLoggers.containsKey(n), n)
        assert(LogManager.getLogger(n).getLevel ==
          LogManager.getRootLogger.getLevel, n)
      }
      kept.unpersist()
    } finally {
      root.removeAppender("sweep-capture")
      ctx.updateLoggers()
      capture.stop()
      Memo.clear(spark)
    }
  }
}
