package graft

import org.scalatest.funsuite.AnyFunSuite

/** ExplainDump builds every frame the way Verify and Bench do, so each
  * id it can dump must construct and plan in the ordinary session. */
class ExplainDumpSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every roster id and every single-round graph id builds and " +
      "dumps its formatted plan; memoized recommender entries show " +
      "their checkpoint scan") {
    val memoized = Seq("q87_item_cf", "q89_content_rec", "q92_hybrid_rec")
    val ids = (ExplainDump.picks.map(_._1) ++ Seq("_edge_build") ++
      memoized).distinct
    try {
      val dumps = ids.map(id => id -> ExplainDump.section(id, spark, sfDir))
        .toMap
      ids.foreach { id =>
        assert(dumps(id).startsWith(s"\n## $id\n"), dumps(id))
        assert(dumps(id).contains("== Physical Plan =="), dumps(id))
      }
      memoized.foreach { id =>
        assert(dumps(id).contains("Scan ExistingRDD"),
          s"$id lost its checkpoint scan:\n${dumps(id)}")
      }
    } finally Memo.clear(spark)
  }
}
