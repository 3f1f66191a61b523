package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** One-shot physical-plan metric dump for the q87 hot stages — names
  * the exact operator that spills at 30× (the stage-pass counters in
  * [[ScaleStress]] are per-STAGE sums; this is per-NODE). Run:
  * `java ... graft.StageProbe [dir]` (default target/scale30). Prints
  * every executed node with its spill/peak-memory/output-rows metrics.
  * Diagnostic scaffolding only — no library code path uses it. */
object StageProbe {

  private def walk(p: SparkPlan, depth: Int,
      out: StringBuilder): Unit = {
    val interesting = p.metrics.filter { case (k, m) =>
      (k.contains("spill") || k.contains("peak") ||
        k.contains("numOutputRows") || k.contains("sortTime") ||
        k.contains("aggTime") || k.contains("buildTime") ||
        k.contains("dataSize") || k.contains("shuffleBytes") ||
        k.contains("bytesWritten") || k.contains("recordsRead")) &&
        m.value != 0
    }
    val ms = interesting.map { case (k, m) =>
      val v = m.value
      val h = if (k.toLowerCase.contains("time")) s"${v}ms"
        else if (k.contains("spill") || k.contains("peak") ||
          k.contains("Size") || k.contains("Bytes") ||
          k.contains("bytes")) f"${v / math.pow(2, 20)}%.0fMiB"
        else v.toString
      s"$k=$h"
    }.mkString(", ")
    out ++= ("  " * depth) + p.nodeName +
      (if (ms.nonEmpty) s"  [$ms]" else "") + "\n"
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    kids.foreach(walk(_, depth + 1, out))
  }

  private def probe(name: String, df: DataFrame): Unit = {
    val t = System.nanoTime()
    // run THIS df's own QueryExecution (count()/write both plan a
    // fresh one, leaving these nodes' metrics at zero)
    val rdd = df.queryExecution.toRdd
    df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        it.foreach(_ => ()))
    val sec = (System.nanoTime() - t) / 1e9
    val out = new StringBuilder
    out ++= f"\n===== $name (${sec}%.1f s) =====\n"
    walk(df.queryExecution.executedPlan, 0, out)
    println(out.toString)
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("target/scale30")
    val spark = Sessions.local()
    import graft.mining.Recommend

    // generic registered-query probe: `StageProbe <dir> q <n1,n2,..>`
    // — runs each named query at <dir> with a job-level timing
    // listener (composition queries checkpoint mid-chain, so per-node
    // metrics of the final plan miss the heavy upstream jobs; the
    // listener attributes wall time to every job the query runs) and
    // then dumps the final plan's per-node metrics.
    // job-level timing listener for EVERY mode (it was q-mode-only;
    // the cn/q93/q33 modes then had no wall attribution for their
    // construction jobs): also logs per-stage task-time sums so a
    // stage whose AQE-coalesced partition count serializes CPU-dense
    // work is visible (tasks=N next to the wall).
    locally {
      val jobs = new java.util.concurrent.ConcurrentHashMap[
        Int, (String, Long)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart)
          : Unit = jobs.put(j.jobId,
            (Option(j.properties.getProperty(
              "spark.job.description")).getOrElse(""), j.time))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd)
          : Unit = Option(jobs.get(j.jobId)).foreach { case (d, t0) =>
            System.err.println(
              f"[probe-job] #${j.jobId}%3d ${(j.time - t0) / 1e3}%7.2f s  $d")
          }
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
            val i = s.stageInfo
            // cpu= is executorCpuTime (ns of actual CPU): run= (wall
            // summed over tasks) inflates arbitrarily under host load
            // or task oversubscription — cpu is the comparable number
            System.err.println(f"[probe-stage] #${i.stageId}%3d " +
              f"tasks=${i.numTasks}%4d " +
              f"run=${i.taskMetrics.executorRunTime / 1e3}%7.2f s " +
              f"cpu=${i.taskMetrics.executorCpuTime / 1e9}%7.2f s  " +
              i.name.takeWhile(_ != '\n').take(60))
          }
        })
    }
    locally {
      val qi = args.indexOf("q")
      if (qi >= 0 && qi + 1 < args.length) {
        args(qi + 1).split(",").foreach { n =>
          System.err.println(s"\n########## $n ##########")
          probe(n, SparkEntry.queries(n)(spark, d))
        }
        spark.stop(); return
      }
    }
    if (args.contains("q24")) {
      probe("q24_neardup_lsh (full neardupLshOn)",
        graft.mining.SetSimilarity.neardupLshOn(
          graft.Tables.documents(spark, d)))
      spark.stop(); return
    }
    if (args.contains("q90")) {
      // the ingest screen at a non-broadcastable index scale (VERDICT
      // r12 item 2 "done" evidence): per-node spill/sort metrics of
      // the non-broadcast branch — at target/scale100 the index side
      // is ~475k docs, past ScreenBroadcastDocsDefault
      import graft.mining.SetSimilarity
      val docs = graft.Tables.documents(spark, d)
        .select(col("doc_id"), col("text"), col("source"))
      val delta = docs.filter(col("source") === SetSimilarity.DeltaSource)
        .select(col("doc_id"), col("text"))
      val index = docs.filter(col("source") =!= SetSimilarity.DeltaSource)
        .select(col("doc_id"), col("text"))
      probe("q90_delta_screen (screenAgainstIndex, index at scale)",
        SetSimilarity.screenAgainstIndex(delta, index))
      // same index, candidate mass FORCED past the spill guard via the
      // test seam — per-node evidence that the gated shuffle-hash
      // branch is also spill-free at this index scale (the branch a
      // hotter corpus, where Σ n_delta·n_index is genuinely pair-mass,
      // would land on)
      probe("q90_delta_screen (FORCED above-guard shuffle-hash branch)",
        SetSimilarity.screenAgainstIndex(delta, index, "1 hour",
          None, Some(256000000L)))
      spark.stop(); return
    }
    if (args.contains("q85")) {
      // VERDICT r15 item 3: per-node spill/sort metrics of the
      // gram-keyed exchange in the exact source-overlap matrix — the
      // corpus-sized distinct (source,gram) set self-joined on a
      // corpus-frequency-skewed key. Probed as production composes it
      // (checkpointed gram set, then the pair join) so the join's own
      // exchange/sort nodes carry the metrics.
      val sg = graft.ops.Pipeline.sourceGramSet(
        graft.Tables.documents(spark, d)).localCheckpoint()
      probe("q85_source_gram_overlap (gram-keyed self-join + pair agg)",
        graft.ops.Pipeline.sourceGramPairsFrom(sg))
      spark.stop(); return
    }
    if (args.contains("cn")) {
      // VERDICT r14 item 5: h3_cn_arm spends 23.5 s in GC of a 51.2 s
      // wall at 30× (SCALE.md stage I/O table) — the worst GC share
      // of any stage. Who owns it: the ContentScoreAgg scorer (its
      // reduce rebuilds an immutable Seq per insertion; finish
      // allocates a HashMap + two sorts per user) or the CO-RESIDENT
      // arms' state in the stress session's shared heap? This probe
      // runs the SAME stage standalone in a fresh JVM — nothing
      // co-resident — and brackets it with the JVM's own GC-time
      // counters. Scorer-owned GC reproduces here; co-residency GC
      // does not.
      import scala.jdk.CollectionConverters._
      def gcMs: Long = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val ui = Recommend.uiMatrix(
        Recommend.copurchases(spark, d), Recommend.UserItemCap)
      // h1's matrix materializes OUTSIDE the probe window, exactly
      // like the stress pass (h3 times contentTop over a prebuilt ui)
      System.err.println(s"[probe] ui rows = ${ui.count()}")
      val g0 = gcMs
      probe("h3_cn_arm standalone (contentTop over prebuilt ui)",
        Recommend.contentTop(ui, graft.Tables.part(spark, d),
          Recommend.UserItemCap, Recommend.ProfileTopF, Recommend.RecK))
      System.err.println(f"[probe] gc during standalone cn arm: " +
        f"${(gcMs - g0) / 1e3}%.1f s (heap " +
        f"${Runtime.getRuntime.maxMemory / (1L << 30)} GiB)")
      spark.stop(); return
    }
    if (args.contains("q93")) {
      probe("q93_cf_eval (full cfEvalOn)",
        Recommend.cfEvalOn(Recommend.copurchases(spark, d),
          Recommend.UserItemCap, Recommend.CoMinUsers,
          Recommend.NeighborTopM, Recommend.RecK))
      spark.stop(); return
    }
    if (args.contains("q33")) {
      // the J2 theta self-join family's fourth-decade evidence
      // (VERDICT r13 closed the recommender/dedup families at 100×;
      // q33's pk-keyed co-occurrence self-join is the remaining heavy
      // bench query without a per-node 100× probe). The skew cap
      // (Graphs.MaxSourceDf) bounds per-key fanout, so pairs scale
      // linearly in replicas. q33's production path eagerly
      // checkpoints cp and the edge list (each is read 2×), which
      // would hide the heavy jobs from a whole-query probe — so probe
      // the three jobs separately, the same decomposition the
      // checkpoints create.
      import graft.graph.Graphs
      val cp0 = Graphs.capBySourceDf(
        Graphs.custParts(spark, d, None), Graphs.MaxSourceDf)
      probe("q33 cp build (scan→join→distinct→df-window)", cp0)
      val cp = cp0.localCheckpoint()
      val mass = Graphs.pairMass(cp)
      System.err.println(s"[probe] q33 pair mass = $mass")
      // the PRODUCTION edge build (volume-gated pair aggregate) — an
      // inline ungated rebuild here is what found the 82 GiB/pass
      // spill the gate now cures (diag/r14/q33probe_100x_pre.out)
      val ed0 = Graphs.edgesFromCp(cp, Graphs.EdgeThreshold, mass)
      probe("q33 pair self-join → edges (the f² theta join, gated)", ed0)
      val ed = ed0.localCheckpoint()
      // the PRODUCTION histogram tail (shared definition — ADVICE
      // r14: an inline rebuild here would silently bypass any gate
      // later added to that tail)
      probe("q33 degree histogram", Graphs.degreeHistFromEdges(ed))
      spark.stop(); return
    }
    // in-session inflation repro: q92 first (builds several broadcast
    // variables per arm), then q93 — with "gc", a forced GC between
    // them lets ContextCleaner reclaim the dead broadcasts' storage
    // blocks before q93 starts
    if (args.contains("seq")) {
      probe("q92 predecessor",
        Recommend.hybridRecOn(Recommend.copurchases(spark, d),
          graft.Tables.part(spark, d), Recommend.UserItemCap,
          Recommend.CoMinUsers, Recommend.NeighborTopM,
          Recommend.ProfileTopF, Recommend.RecK))
      Sessions.dropCheckpoints(spark)
      if (args.contains("gc")) { System.gc(); Thread.sleep(3000) }
      probe("q93 after q92" + (if (args.contains("gc")) " + gc" else ""),
        Recommend.cfEvalOn(Recommend.copurchases(spark, d),
          Recommend.UserItemCap, Recommend.CoMinUsers,
          Recommend.NeighborTopM, Recommend.RecK))
      spark.stop(); return
    }
    val ui = Recommend.uiMatrix(
      Recommend.copurchases(spark, d), Recommend.UserItemCap)
    val stats = ui.agg(count(lit(1)), count_distinct(col("i"))).first()
    val (uiRows, nItems) = (stats.getLong(0), stats.getLong(1))
    // "s4": skip the expensive s2 probe — build the chain silently and
    // dump only s4's per-node metrics (the shuffle-bytes decomposition
    // VERDICT r11 item 3 needs: which Exchange owns the bytes)
    if (!args.contains("s4"))
      probe("s2_sims_f2 (un-checkpointed plan)",
        Recommend.simsPlan(ui, Recommend.CoMinUsers, nItems))
    val sims = Recommend.simsTable(ui, Recommend.CoMinUsers, nItems)
    val nbr = Recommend.topMFromSims(sims, Recommend.NeighborTopM)
      .localCheckpoint()
    probe("s4_scoring (gated)",
      Recommend.scoreFromNbr(ui, nbr,
        nItems * Recommend.NeighborTopM, Recommend.RecK,
        uiRows * Recommend.NeighborTopM))
    if (!args.contains("s4"))
      probe("q89_content (full contentRecOn)",
        Recommend.contentRecOn(Recommend.copurchases(spark, d),
          graft.Tables.part(spark, d), Recommend.UserItemCap,
          Recommend.ProfileTopF, Recommend.RecK))
    spark.stop()
  }
}
