package graft

/** Dev utility: print the formatted physical plan of registered
  * queries (PLANS.md is maintained from this output).
  * Usage: runMain graft.PlanDump <sfDir> <query>[,<query>...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions.col
    // bounded-subgraph round inputs for the `_lpa_round`/`_cc_round`
    // dumps — checkpointed like the production loops' inputs, so the
    // dumped round plan starts from the same ExistingRDD scans
    lazy val ue = {
      val ed = graft.graph.Graphs.edges(spark, sfDir,
        Some(graft.graph.Graphs.SubNations),
        graft.graph.Graphs.SubThreshold)
      ed.select(col("src"), col("dst"))
        .unionByName(ed.select(col("dst").as("src"),
          col("src").as("dst")))
        .localCheckpoint()
    }
    lazy val labels0 = ue.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    names.foreach { n =>
      println(s"===== $n =====")
      // "_edge_build": the un-checkpointed co-purchase edge subtree;
      // "_lpa_round"/"_cc_round": one un-checkpointed iteration of
      // q35/q36 over a prebuilt edge list (inside the registered
      // queries these sit behind localCheckpoint scans, so their
      // plans are otherwise invisible in PLANS.md)
      val df = n match {
        case "_edge_build" =>
          graft.graph.Graphs.capBySourceDf(
            graft.graph.Graphs.custParts(spark, sfDir, None),
            graft.graph.Graphs.MaxSourceDf)
        case "_lpa_round" => graft.graph.Graphs.lpaRound(ue, labels0)
        case "_cc_round" => graft.graph.Graphs.ccRound(ue, labels0)
        // one q64 large-star step over a prebuilt edge frame — the
        // PRODUCTION round body (Graphs.starLargeRound, shared with
        // componentsLargeStar so the dump can't drift)
        case "_star_round" =>
          graft.graph.Graphs.starLargeRound(graft.graph.Graphs
            .edges(spark, sfDir, Some(graft.graph.Graphs.SubNations),
              graft.graph.Graphs.SubThreshold).localCheckpoint())
        // the PRE-r16 stock symmetrization (no explicit src-exchange),
        // reconstructed INLINE and clearly labeled: the r16 change
        // (06f96cc) shipped without its before/after receipt (VERDICT
        // r16 item 10) and the old shape exists only in history — this
        // dump is evidence of what the planner does WITHOUT the
        // repartition, not a production code path
        case "_star_round_stock" =>
          val e = graft.graph.Graphs
            .edges(spark, sfDir, Some(graft.graph.Graphs.SubNations),
              graft.graph.Graphs.SubThreshold).localCheckpoint()
          def undirStock(x: org.apache.spark.sql.DataFrame) =
            x.select(col("src"), col("dst"))
              .unionByName(x.select(col("dst").as("src"),
                col("src").as("dst")))
              .filter(col("src") =!= col("dst")).distinct()
          val ue1 = undirStock(e)
          ue1.join(graft.graph.Graphs.starMinNbr(ue1), "src")
            .filter(col("dst") > col("src"))
            .select(col("dst").as("src"), col("m").as("dst"))
            .filter(col("src") =!= col("dst")).distinct()
        case _ => SparkEntry.queries(n)(spark, sfDir)
      }
      // formatted by default (the plans/rNN before/after artifacts);
      // SPARK_GRAFT_PLAN_MODE=simple for the compact tree
      println(df.queryExecution.explainString(
        if (sys.env.get("SPARK_GRAFT_PLAN_MODE").contains("simple"))
          org.apache.spark.sql.execution.SimpleMode
        else org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
