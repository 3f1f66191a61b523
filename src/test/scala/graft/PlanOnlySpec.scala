package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r14 item 2: plan-only construction (`spark.graft.planOnly`
  * — the ExplainDump contract) must run ZERO Spark jobs. Volume-gate
  * estimates read 0 (the in-gate branch, the executing plan at oracle
  * SF), checkpoints go LAZY (same Scan ExistingRDD plan, no
  * materialization), and driver-side index collects are skipped —
  * verified here across the whole recommender family q87–q93, the
  * queries whose gate estimates used to run eager jobs at
  * construction time. */
class PlanOnlySpec extends AnyFunSuite {
  import SparkTestSession._

  test("q87–q93 construction under planOnly runs zero Spark jobs " +
      "and keeps the checkpoint plan shape") {
    // fresh memo state: a warm artifact would make q87/q89/q92
    // trivially jobless without exercising the planOnly build path
    Memo.clear(spark)
    try TestUtil.withConf("spark.graft.planOnly" -> "true") {
      val family = Seq("q87_item_cf", "q88_lm_quality",
        "q89_content_rec", "q90_delta_screen", "q91_ppr",
        "q92_hybrid_rec", "q93_cf_eval")
      val (plans, seen) = TestUtil.countJobs(spark) {
        family.map { n =>
          n -> SparkEntry.queries(n)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
        }.toMap
      }
      // the memoized entries keep the materialized-artifact plan
      // shape: a lazy checkpoint dumps the same Scan ExistingRDD an
      // eager one does — only materialization is deferred
      Seq("q87_item_cf", "q89_content_rec", "q92_hybrid_rec").foreach {
        n => assert(plans(n).contains("Scan ExistingRDD"),
          s"$n lost its checkpoint plan shape:\n${plans(n)}")
      }
      // parquet SCHEMA INFERENCE is the one permitted job class: Spark
      // 4 reads footers in a tiny job per spark.read.parquet — the
      // irreducible metadata cost of knowing a source's schema, paid
      // before a plan can even name its columns. Estimates,
      // checkpoints, index collects, broadcast futures: all zero.
      val offending = seen.filterNot(_.contains("parquet at Tables.scala"))
      assert(offending.isEmpty,
        s"plan-only construction ran ${offending.length} non-schema " +
          s"Spark job(s): ${offending.mkString("; ")}")
      // and nothing entered the session memo: a planOnly stand-in
      // cached under the real artifact key would be served — empty —
      // to the next genuine consumer of the same dataset
      assert(Memo.buildSeconds(spark).isEmpty,
        "planOnly builds must bypass the memo cache")
    } finally {
      // drop the planOnly-built artifacts: rec_cn's broadcast class
      // index is EMPTY under planOnly (a dump never executes it) and
      // must not leak into a later suite's real run
      Memo.clear(spark)
    }
  }

  test("every ExplainDump-dumpable id constructs joblessly under " +
      "planOnly (VERDICT r15 item 7: the guarantee held on the " +
      "recommender family by pin and on the rest by convention)") {
    Memo.clear(spark)
    try TestUtil.withConf("spark.graft.planOnly" -> "true") {
      // per-id accounting: the bus drained after each construction,
      // so an offending job names the query that ran it instead of a
      // 33-way "someone did"
      val offenders = ExplainDump.picks.map(_._1).flatMap { id =>
        val (_, seen) = TestUtil.countJobs(spark) {
          ExplainDump.frameFor(id, spark, sfDir).queryExecution
            .executedPlan // force full planning, same depth as a dump
        }
        val jobs = seen.filterNot(_.contains("parquet at Tables.scala"))
        if (jobs.isEmpty) None
        else Some(s"$id -> ${jobs.mkString("; ")}")
      }
      assert(offenders.isEmpty,
        "plan-only construction ran non-schema Spark job(s):\n" +
          offenders.mkString("\n"))
      assert(Memo.buildSeconds(spark).isEmpty,
        "planOnly builds must bypass the memo cache")
    } finally Memo.clear(spark)
  }
}
