package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multi-point scale stress of the recommender/dedup family (VERDICT
  * r7 item 2; second point per VERDICT r9 item 4): converts the code's
  * WRITTEN scale arguments ("vocabulary-bounded class count",
  * "candidate generation is bucketed, never all-pairs") into
  * MEASUREMENTS, by synthesizing N× sf0.1 datasets (default 10× and
  * 30×) and running the heavy queries at every scale in one session.
  * TWO points turn ratios into SLOPES: a growing constant flattens out
  * (per-replica cost at 30× ≈ at 10×) while a hidden quadratic keeps
  * steepening — one point cannot tell them apart.
  *
  * Scaling construction (REPLICAS disjoint copies, ids offset by
  * [[IdOffset]] per replica — preserves every per-entity distribution
  * while multiplying entity counts):
  *  - orders/lineitem/part: keys offset → N disjoint interaction
  *    graphs over an N× catalog. Part ATTRIBUTES are kept verbatim, so
  *    the feature vocabulary — and with it q89's class count — must
  *    stay ~CONSTANT while the catalog grows N×: exactly the claim
  *    under test (Recommend.contentTop's scale note).
  *  - documents: doc_id offset; every token suffixed "_r<k>" for
  *    replica k>0, so replicas share no shingles — within-replica
  *    near-dup structure is preserved (dup pairs scale ×N, never
  *    ×N² via cross-replica matches).
  *  - embeddings: vec_id offset, vectors verbatim. SemDeDup's knob is
  *    k ∝ corpus (the paper's own scaling), so an N× run uses N×
  *    clusters — Σ(cluster)² = n²/k stays ∝ n.
  *
  * Timing: one untimed warm run of each query at sf0.1, then min-of-2
  * timed runs per scale, interleaved. Reported as SCALE.md. Memoized
  * entry points are bypassed (the *On variants) so every scale pays
  * its full build — this measures the ALGORITHMS, not the cache.
  *
  * Run: sbt "runMain graft.ScaleStress" (writes target/scale<N> dirs +
  * SCALE.md). SPARK_GRAFT_SCALE_FACTORS overrides the factors
  * (comma-separated, e.g. "10,30").
  */
object ScaleStress {

  val IdOffset = 10000000L

  /** Task-metrics tape for the q87 stage pass: separates LINEAR work
    * (bytes shuffled, CPU burned) from the super-linear WALL symptoms
    * a single shared disk + one JVM produce at 30× (spill passes,
    * page-cache misses on shuffle reads, GC). On a real cluster the
    * per-node share of these bytes is constant as data and executors
    * scale together; the byte columns are what "linear algorithm"
    * means there. */
  private final class TaskTape extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val shufWrite = new AtomicLong; val shufRead = new AtomicLong
    val spillDisk = new AtomicLong; val spillMem = new AtomicLong
    val gcMs = new AtomicLong; val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillDisk.addAndGet(m.diskBytesSpilled)
        spillMem.addAndGet(m.memoryBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
      }
    }
    def snap: Tape = Tape(shufWrite.get, shufRead.get, spillDisk.get,
      spillMem.get, gcMs.get, cpuNs.get, runMs.get)
  }
  private case class Tape(shufWrite: Long, shufRead: Long,
      spillDisk: Long, spillMem: Long, gcMs: Long, cpuNs: Long,
      runMs: Long) {
    def -(o: Tape): Tape = Tape(shufWrite - o.shufWrite,
      shufRead - o.shufRead, spillDisk - o.spillDisk,
      spillMem - o.spillMem, gcMs - o.gcMs, cpuNs - o.cpuNs,
      runMs - o.runMs)
  }

  /** Replicate a frame `n`× with the given id columns offset per
    * replica (replica 0 is the original rows). */
  private def replicate(df: DataFrame, idCols: Seq[String], n: Int)
  : DataFrame =
    (0 until n).map { k =>
      idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(k * IdOffset)))
    }.reduce(_ unionByName _)

  private def writeScaled(s: SparkSession, src: String, out: String,
      n: Int): Unit = {
    replicate(orders(s, src), Seq("o_orderkey", "o_custkey"), n)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(lineitem(s, src), Seq("l_orderkey", "l_partkey"), n)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    replicate(part(s, src), Seq("p_partkey"), n)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    // customers keep their nationkey, so the graph family's bounded
    // nation-filtered subgraph grows N× in nodes/edges — the linear
    // test the iterative graph queries need
    replicate(customer(s, src), Seq("c_custkey"), n)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    // documents: per-replica token suffix — replicas share no vocabulary
    (0 until n).map { k =>
      val d = documents(s, src)
        .withColumn("doc_id", col("doc_id") + lit(k * IdOffset))
      if (k == 0) d
      else d.withColumn("text", expr(
        s"array_join(transform(split(text, ' '), t -> concat(t, '_r$k')), ' ')"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    replicate(embeddings(s, src), Seq("vec_id"), n)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def copurchases(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_partkey").as("i"))
      .join(orders(s, d).select(col("o_orderkey").as("ok"),
        col("o_custkey").as("u")), "ok")
      .select(col("u"), col("i"))

  /** The 100× decade check (round 12, VERDICT r11 item 7) — measured
    * by a separate targeted run whose raw artifacts live under
    * diag/r12/ (scale100_partial.md, scale100_run.log,
    * stageprobe_100x.out); pinned into every full SCALE.md like the
    * s4 byte decomposition so regeneration never drops it. Walls are
    * that run's min-of-2; 30×-relative slopes use the r11 table's 30×
    * walls (cross-window host drift applies); bytes/rows/spill are
    * deterministic per plan+data. */
  private val Decade100Section: String =
    """## 100× decade check (q87/q92 — VERDICT r11 item 7; q93 — VERDICT r13 item 7; q33 + the pair-agg gate it found — r14; the q61/q65/q80 dedup-composition chain + the q65 double-materialization it found — r15)
      |
      |Three points fit a line; a fourth decade catches a quadratic term the
      |30× point can't. Run: a targeted partial stress
      |(`SPARK_GRAFT_SCALE_FACTORS=100
      |SPARK_GRAFT_SCALE_ONLY=q87_item_cf,q92_hybrid_rec`, 64 GiB heap —
      |the two fused arms at 100× did NOT need to be run separately), same
      |min-of-2 interleaved method; full artifact
      |`diag/r12/scale100_partial.md`, run log `diag/r12/scale100_run.log`
      |(an earlier attempt killed mid-run by a session restart corroborates
      |q87: 304.1 s — `scale100_run_attempt1.log`). 30×-relative slopes
      |below use the r11 table's 30× walls, so they carry the documented
      |cross-window host drift; within-run evidence (bytes, rows, spill) is
      |deterministic.
      |
      || query | sf0.1 sec | 100× sec | 100× ratio | per-replica vs 30× |
      ||---|---|---|---|---|
      || q87_item_cf | 8.7 | 307.8 | 35.4× | 1.21 |
      || q92_hybrid_rec | 10.3 | 454.2 | 44.1× | 0.81 |
      |
      |**No quadratic term.** A quadratic stage would make the per-replica
      |slope GROW by ~3.3× each decade; instead q92's fell into the fourth
      |decade (1.17 across 10×→30× → 0.81 across 30×→100×) and q87's rose
      |only to 1.21, owned by single-heap pressure, not algorithm: the
      |in-regime evidence below is linear.
      |
      || stage | 30× sec | 100× sec | per-replica | shuffle w+r 30× → 100× GiB | bytes/replica |
      ||---|---|---|---|---|---|
      || s1_ui_matrix | 5.2 | 10.4 | 0.60 | 1.43 → 4.80 | 1.01 |
      || s2_sims_f2 | 19.9 | 96.1 | 1.45 | 6.48 → 22.23 | 1.03 |
      || s3_top_m | 3.3 | 9.5 | 0.86 | 0.50 → 1.74 | 1.04 |
      || s4_scoring | 45.7 | 158.9 | 1.04 | 16.76 → 58.56 | 1.05 |
      || s4_scoring_shuffle | 42.9 | 180.3 | 1.26 | 16.76 → 58.56 | 1.05 |
      || h2_cf_arm | 70.2 | 259.8 | 1.11 | 23.65 → 82.25 | 1.04 |
      || h3_cn_arm | 67.7 | 245.2 | 1.09 | 2.86 → 9.56 | 1.00 |
      || h4_fusion | 2.3 | 4.7 | 0.61 | 0.16 → 0.52 | 0.98 |
      |
      |- **s4_scoring is linear within the above-guard regime: wall 1.04,
      |  bytes 1.05 per replica** — the second in-regime point the r11
      |  regime-shift explanation predicted (both 30× and 100× sit above the
      |  spill guard, so no further regime boundary is crossed and the bytes
      |  scale with data). The r11 flag on s4's 1.52 stage slope was the
      |  10×→30× boundary crossing, now bracketed on both sides.
      |- **s2_sims_f2 owns the residual super-linearity (1.45)**, and the
      |  per-node probe (`diag/r12/stageprobe_100x.out`) shows it is NOT the
      |  plan: standalone on a dedicated 64 GiB heap, the 1.129B-row pair
      |  stream rides ONE sized exchange (10.6 GiB, ~565 tasks × 2M rows),
      |  the (i,j) aggregate holds ~190 MB/task fully in memory with ZERO
      |  spill, and the CoMinUsers filter cuts 1.097B → 30.7M. In-stress the
      |  same stage spilled 40.0 GiB (mem) and burned 43.4 s of GC — the
      |  spill columns at 100× price measurement co-residency (interleaved
      |  passes + forced-boundary checkpoints sharing one heap), not the
      |  operator. Same pattern on s4: in-stress 36.0/14.5 GiB spill, probe
      |  zero — both sized exchanges (14.8 + 13.7 GiB written) feed 2M-row
      |  in-memory tasks.
      |- **The co-residency gap flips sign at 100×: fused −66.2 s vs
      |  serialized arms** (h_sum 520.4 s, fused one-plan 454.2 s; at 30×
      |  fused was +23.2 s SLOWER). Once each arm's stages are long enough,
      |  the scheduler fills one arm's GC pauses and shuffle-write stalls
      |  with the other arm's tasks — concurrency becomes overlap instead of
      |  contention. This settles the r11 open question: the fused one-plan
      |  q92 is the right production shape at scale; serializing the arms
      |  would trade a 30×-only +23 s artifact for a 100× −66 s loss.
      |- **q89 content classes: 1,600 at 100×** (1× 1,600) — the
      |  vocabulary-bounded claim holds through the fourth decade while the
      |  catalog grows 100×.
      |
      |**Dedup family at 100×** (targeted runs; logs + per-node probes in
      |`diag/r12/`): q58 9.4 s — 30× 3.6 s → per-replica 0.78, linear. q24
      |carries the corpus's pair mass — 534.5M raw / 328.3M distinct
      |candidates at 100×, exactly 3.3× the 30× counts (linear in N) — but
      |the session-width plan crushed it in 32 tasks: the pre-fix per-node
      |probe (`q24probe_100x.out`) shows a 30 GiB spill in the candidate
      |dedup and 70–75 GiB spilled PER SORT once AQE's sort-merge lookups
      |sorted array-carrying pair streams (95–102 GiB dataSize). Fixed in
      |r12 (`SetSimilarity.lshCandidates`): the pair stream clusters at
      |parallelism from the EXACT per-bucket pair count Σ n·(n−1)/2 (the
      |CF chain's `sizedByCardinality`; one cheap aggregate over the
      |nDocs·nBands band table), and past the same guard the doc-table
      |lookups hint shuffle_hash, so the pair stream PROBES without ever
      |sorting. Post-fix probe (`q24probe_100x_fixed.out`): ZERO spill,
      |~3 s build times, probe wall 380 → 282 s; one exchange writes
      |31 GiB instead of 4 GiB because unsorted rows compress worse — the
      |price of dropping a 75 GiB spill. q24's 100× WALLS are
      |window-dominated either way (the unchanged pre-fix plan measured
      |272 s and 158.7 s in two windows) — the deterministic spill/sort
      |evidence is the claim. Below the guard every plan is untouched
      |(sf0.001/sf0.01/sf0.1 oracle-gated before and after).
      |
      |r13 recalibrated the verify-lookup side of that gate by WHICH SIDE
      |is small (the r12 always-shuffle-hash form shipped 29.7 + 28.6 GiB
      |of sig/shingle-carrying pair rows through exchanges the broadcast
      |plan never materialized — q24 at 30× regressed 13.5 → 44.8 s; the
      |calibrated gate broadcasts a still-broadcastable doc table, byte-
      |capped, and q24 at 30× came back to 16.0 s, slope 0.86). The 100×
      |regime re-probed IDENTICAL to the r12 fix: both index lookups ride
      |ShuffledHashJoin, zero spill (`diag/r13/q24probe_100x_r13gate.out`).
      |NB the walls above are window-relative: a regeneration in a slow
      |host window moves every heavy row together (one run's table put
      |q24's 30× at 31.5 s while the CALIBRATED binary itself scored
      |29.2–35.3 s interleaved on the same host —
      |`diag/r13/ab_q24_30x_cal_vs_head.txt`); the deterministic claims
      |are the plan shapes and the zero-spill probes, not any single
      |window's seconds.
      |
      |**q93_cf_eval at 100× (r14, VERDICT r13 item 7)** — the bench's
      |slowest query shares q87's gated retrain chain, but its OWN
      |eval-side joins (leave-one-out holdout split, hit-rate rollup)
      |previously had only a 30× point. Targeted run
      |(`SPARK_GRAFT_SCALE_FACTORS=100 SPARK_GRAFT_SCALE_ONLY=q93_cf_eval`,
      |64 GiB heap, min-of-2 interleaved): full artifact
      |`diag/r14/scale100_q93_partial.md`, run log
      |`diag/r14/scale100_q93_run.log`.
      |
      || stage | sf0.1 sec | 100× sec | 100× ratio | shuffle w+r GiB @100× | spill mem/disk GiB @100× |
      ||---|---|---|---|---|---|
      || e1_holdout_split | 2.1 | 16.7 | 8.0× | 1.65+1.65 | 0.00/0.00 |
      || e2_retrain_cf | 10.2 | 415.6 | 40.7× | 41.23+42.17 | 76.00/24.66 |
      || e3_eval_join | 0.3 | 2.7 | 9.0× | 0.07+0.07 | 0.00/0.00 |
      || q93 full query | 9.6 | 550.2 | 57.2× | — | — |
      |
      |**No super-linear term, and the eval side's own joins are
      |spill-free at the fourth decade**: e1 (interaction distinct +
      |per-user holdout pick) and e3 (users×k ⋈ holdout + rollup) cost
      |8–9× wall on 100× data — far sub-linear — with ZERO spill and
      |shuffle bytes linear in users (1.65 GiB at 100×). e2 wraps the
      |anti-join train slice plus q87's ENTIRE volume-gated CF retrain in
      |one forced-boundary stage, so its spill is the documented
      |co-residency effect of that chain under measurement checkpoints —
      |76 GiB mem ≈ the sum of s2_sims_f2's 40 GiB and s4_scoring's
      |36 GiB from the q87 in-stress rows above, which the per-node
      |probe (`diag/r12/stageprobe_100x.out`) already showed vanish on a
      |dedicated heap (both stages zero-spill standalone). The full-query
      |wall 550.2 s is 57.2× of the same-window base 9.6 s (per-replica
      |0.57 — the fixed per-query overhead amortizes); the q89-style
      |cross-window comparison against r13's 30× wall (100.9 s) gives
      |per-replica 1.63, but both endpoints of that ratio sit in
      |different host windows (this run's p1 @100× measured 1002 s, p2
      |550 s — a 1.8× same-plan swing) — the deterministic claims are
      |the zero-spill eval stages and the linear shuffle bytes.
      |
      |**q33_degree_hist at 100× (r14)** — the J2 theta self-join
      |family's fourth-decade point, and the 100× probe that found (and
      |then verified the cure for) the pair-aggregate spill. Targeted
      |run (`SPARK_GRAFT_SCALE_FACTORS=100
      |SPARK_GRAFT_SCALE_ONLY=q33_degree_hist`, 64 GiB heap, min-of-2
      |interleaved); per-node dumps + both partials:
      |`diag/r14/q33_100x_gate_evidence.out` (ungated plan also in
      |`diag/r14/q33probe_100x_pre.out`).
      |
      || edge build | 100× wall (min-of-2) | theta-join stage | agg spill @100× |
      ||---|---|---|---|
      || ungated (pre-r14) | 155.0 s | 139.2 s | 82 GiB × BOTH passes |
      || gated (HEAD) | 62.7 s | 96.4 s | ZERO |
      |
      |The skew cap bounds per-key fanout, so pair mass is linear in
      |replicas (897,884,400 at 100× — ×100.1 of the base 8.97M, exact);
      |but at 32 fixed partitions that put 28M pair rows under each
      |aggregate task, and the partial pass deduped only 0.15% — both
      |aggregate passes carried pair mass and both spilled 82 GiB
      |(the same defect shape the CF scoring gate closed in r11, found
      |here by this round's new per-node probe). The cure is the same
      |volume gate (`Graphs.edgesFromCp` via
      |`Recommend.sizedByCardinality` at the narrow-pair guard): the
      |exact pair mass — one memoized aggregate over the checkpointed
      |(ck, pk) table — clusters the pair stream by (src,dst) at
      |mass/2M = 448 partitions BEFORE the aggregate, which subsumes
      |the aggregate's own exchange (ONE exchange either way) and runs
      |both phases in memory. Gated 100× wall 62.7 s = 27× of the
      |same-window base 2.3 s (per-replica 0.27); below the guard
      |(every oracle SF) the stock partial-aggregate plan is untouched,
      |and both regimes are plan-pinned in GraphSpec.
      |
      |**Dedup-composition chain at 100× (r15, VERDICT r14 item 3)** —
      |q61/q65/q80 were the heaviest bench rows without decade
      |evidence. Targeted runs (`SPARK_GRAFT_SCALE_FACTORS=100
      |SPARK_GRAFT_SCALE_ONLY=...`, 64 GiB heap, min-of-2 interleaved;
      |logs `diag/r15/scale100_chain_run.log` /
      |`scale100_q65_postfix.log` / `scale100_chain_stages2.log`):
      |
      || query | sf0.1 sec | 100× sec | 100× ratio |
      ||---|---|---|---|
      || q61_corpus_prep | 2.4 | 15.4 | 6.5× |
      || q65_dup_clusters (pre-fix) | 3.3 | 58.4 (p1 103.5) | 17.6× |
      || q65_dup_clusters (HEAD) | 2.7 | **13.9** | 5.1× |
      || q80_leakage_split | 2.8 | 16.8 | 5.9× |
      || q86_train_pipeline (HEAD) | 3.9 | 15.8 | 4.1× |
      |
      |Stage decomposition at 100× (forced checkpoint boundaries; all
      |stages ZERO spill): c1_pair_list 11.8 s (shuffle 0.59+1.09 GiB —
      |the only corpus-scale stage), c2_cc_contraction 1.8 s,
      |c3_split_audit 1.8 s. The stage sum (~15 s) against q65's 58.4 s
      |full-query wall exposed this round's defect: `dupClustersOn` fed
      |the RAW q58 subtree into the contraction, whose symmetrization
      |references its input twice — the first materialization computed
      |the whole banded-LSH build once per branch. Checkpointing the
      |pair list first (the shape q80 already had) cut q65 to 13.9 s;
      |q86's train pipeline carried the same defect and the same fix.
      |The contraction now builds one adjacency RDD from a single pass
      |over the pair list, so q65 and q86 no longer checkpoint it.
      |
      |The CC itself is OUTPUT-sized at every decade on this corpus
      |(disjoint replicas → within-replica pairs only: 47,700 pairs /
      |95,400 undirected edges at 100×). The distributed star
      |contraction, the production path at every decade, took 2.9 s on
      |the 100× pairs (0.01+0.01 GiB shuffle, zero spill; measured in
      |r15 with the DataFrame round body that neighbour-set rounds have
      |since replaced), with the same O(log n) round count at every
      |decade (disjoint replicas keep the diameter). No super-linear
      |stage anywhere in the chain.
      |
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // table headers label the base point by its directory name (a
    // smoke run at another sf must not print "sf0.1" columns)
    val baseLabel = java.nio.file.Paths.get(base).getFileName.toString
    // sorted + distinct (ADVICE r10): the slope and the "last point"
    // wording assume ascending factors — an override like "30,10"
    // would otherwise silently invert the slope
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "10,30")
      .split(",").map(_.trim.toInt).toSeq.distinct.sorted
    require(factors.nonEmpty && factors.forall(_ > 1),
      s"SPARK_GRAFT_SCALE_FACTORS must be integers > 1, got $factors")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)

    val dirs: Seq[(Int, String)] = factors.map(n => n -> s"target/scale$n")
    dirs.foreach { case (n, out) =>
      // synthesis is deterministic in (base, n) — a sentinel written
      // AFTER the last table lets re-runs skip the multi-minute
      // regeneration; any interrupted write leaves no sentinel. The
      // sentinel RECORDS the base path (ADVICE r11): a factor-only
      // sentinel would silently reuse data scaled from a DIFFERENT
      // base dir, corrupting every slope in SCALE.md.
      val sentinel = java.nio.file.Paths.get(s"$out/.synthesized_${n}x")
      val sentinelBase =
        if (!java.nio.file.Files.exists(sentinel)) None
        else Some(new String(
          java.nio.file.Files.readAllBytes(sentinel), "UTF-8").trim)
      if (sentinelBase.contains(base)) {
        System.err.println(s"[scale] reusing existing $out (${n}x of $base)")
      } else {
        sentinelBase.foreach { stale =>
          System.err.println(s"[scale] $out was synthesized from " +
            s"'$stale' (want '$base') — regenerating")
        }
      System.err.println(s"[scale] synthesizing ${n}x of $base → $out")
      val tGen = System.nanoTime()
      writeScaled(spark, base, out, n)
      java.nio.file.Files.write(sentinel, base.getBytes("UTF-8"))
      System.err.println(
        f"[scale] synthesis done in ${(System.nanoTime() - tGen) / 1e9}%.0f s")
      }
    }
    val factorOf: Map[String, Int] = dirs.map(_.swap).toMap

    import graft.mining.{Recommend, SetSimilarity, VectorSimilarity}
    import graft.cluster.KMeans
    // Optional local-iteration filter (comma-separated query names,
    // empty = stage pass only) — the round artifact covers everything;
    // when the filter is set the output goes to SCALE_partial.md so a
    // partial run can never masquerade as the full stress.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // memo-free entry points — every scale pays its full build
    val allRuns: Seq[(String, String => DataFrame)] = Seq(
      "q87_item_cf" -> ((d: String) => Recommend.itemCfOn(
        copurchases(spark, d), Recommend.UserItemCap, Recommend.CoMinUsers,
        Recommend.NeighborTopM, Recommend.RecK)),
      "q89_content_rec" -> ((d: String) => Recommend.contentRecOn(
        copurchases(spark, d), part(spark, d), Recommend.UserItemCap,
        Recommend.ProfileTopF, Recommend.RecK)),
      "q92_hybrid_rec" -> ((d: String) => Recommend.hybridRecOn(
        copurchases(spark, d), part(spark, d), Recommend.UserItemCap,
        Recommend.CoMinUsers, Recommend.NeighborTopM,
        Recommend.ProfileTopF, Recommend.RecK)),
      "q93_cf_eval" -> ((d: String) => Recommend.cfEvalOn(
        copurchases(spark, d), Recommend.UserItemCap, Recommend.CoMinUsers,
        Recommend.NeighborTopM, Recommend.RecK)),
      "q24_neardup_lsh" -> ((d: String) =>
        SetSimilarity.neardupLshOn(documents(spark, d))),
      "q58_shingle_neardup" -> ((d: String) =>
        SetSimilarity.shingleNeardupOn(documents(spark, d))),
      // SemDeDup scales k ∝ corpus (the paper's own knob): N× data →
      // N× clusters, keeping Σ(cluster)² = n²/k linear in n.
      "q94_semdedup" -> ((d: String) => VectorSimilarity.semDedupOn(
        KMeans.points(spark, d),
        KMeans.K * factorOf.getOrElse(d, 1),
        VectorSimilarity.SemDedupCos)),
      // the two end-to-end COMPOSITIONS a real pipeline actually runs
      // (VERDICT r10 item 3): the full train-prep DAG and the
      // ingest-delta screen, at every scale point
      "q86_train_pipeline" -> ((d: String) =>
        graft.ops.Pipeline.trainPipelineOn(documents(spark, d))),
      // the dedup-COMPOSITION chain (VERDICT r14 item 3): q58's pair
      // list through curation anti-join / star-contraction CC / the
      // group-keyed leakage split — the heaviest bench rows without
      // decade evidence of their own; the CC iteration is the most
      // plausible hidden super-linear term left
      "q61_corpus_prep" -> ((d: String) =>
        graft.ops.Pipeline.corpusPrepOn(documents(spark, d))),
      "q65_dup_clusters" -> ((d: String) =>
        graft.ops.Pipeline.dupClustersOn(documents(spark, d))),
      "q80_leakage_split" -> ((d: String) =>
        graft.ops.Pipeline.leakageSplitOn(documents(spark, d))),
      "q90_delta_screen" -> ((d: String) => {
        // production shape (VERDICT r15 item 4): the delta is an
        // ingest slice — held at the BASE-corpus size — while the
        // index scales N×. Scaling both sides (the pre-r16 form)
        // measures a different product (an N× ingest batch) and lets
        // delta growth mask index-side super-linearity.
        val delta = documents(spark, base)
          .filter(col("source") === SetSimilarity.DeltaSource)
          .select(col("doc_id"), col("text"))
        val corpus = documents(spark, d)
          .filter(col("source") =!= SetSimilarity.DeltaSource)
          .select(col("doc_id"), col("text"))
        SetSimilarity.screenAgainstIndex(delta, corpus)
      }),
      // the last registered heavy bench rows without far-decade
      // evidence (VERDICT r15 items 3/4): the exact gram-overlap
      // matrix — its gram-keyed exchange carries the corpus-sized
      // distinct (source,gram) set and a boilerplate gram's posting
      // is corpus-frequency-skewed — and the IVF quantizer+probe path
      "q85_source_gram_overlap" -> ((d: String) =>
        graft.ops.Pipeline.sourceGramOverlapOn(documents(spark, d))),
      // IVF at N×: nlist ∝ √N (the standard FAISS balance — quantizer
      // training work n·√n, probe candidates ∝ √n per query), nprobe
      // fixed; the query batch stays the fixed vec_id<10 slice
      // (replicas are id-offset past it), which is the production
      // search shape: a bounded query batch against a growing corpus.
      "q146_ann_ivf" -> ((d: String) => VectorSimilarity.ivfSearch(
        spark, d,
        nlist = VectorSimilarity.IvfNlist * math.max(1, math.round(
          math.sqrt(factorOf.getOrElse(d, 1).toDouble)).toInt),
        nprobe = VectorSimilarity.IvfNprobe)),
      // the iterative graph family on the N× co-purchase subgraph
      // (edge-sized joins per round — the linearity claim under test)
      "q33_degree_hist" -> ((d: String) =>
        SparkEntry.queries("q33_degree_hist")(spark, d)),
      "q35_lpa" -> ((d: String) =>
        SparkEntry.queries("q35_lpa")(spark, d)),
      "q63_pagerank" -> ((d: String) =>
        SparkEntry.queries("q63_pagerank")(spark, d)),
      "q97_kcore" -> ((d: String) =>
        SparkEntry.queries("q97_kcore")(spark, d)))
    val runs = allRuns.filter { case (n, _) => only.forall(_.contains(n)) }

    // Partitions stay at the session's `cpus` at EVERY scale — measured,
    // not assumed: a 32·N-partitions-at-N× variant was tried and
    // REJECTED (stage table showed s4_scoring unchanged → the growth
    // is not partial-agg spill; full-query times got worse from the
    // extra scheduling; and the 30× run died on shuffle-file pressure
    // under ~19k map tasks). Fixed partitions also keep every round's
    // numbers comparable.
    // each timed run carries its host-load bracket (VERDICT r13 item
    // 5): the 1-min loadavg before/after, kept with the min-wall pass
    // and printed per row — self-load during a pass is ≈cpus, so a
    // bracket well above that marks a contended window without a
    // binary A/B
    def time(fn: String => DataFrame, d: String)
    : (Double, Long, Double, Double) = {
      Sessions.dropCheckpoints(spark)
      val lb = HostLoad.loadavg()
      val t = System.nanoTime()
      val rows = fn(d).count()
      ((System.nanoTime() - t) / 1e9, rows, lb, HostLoad.loadavg())
    }

    // warm: one untimed pass at base scale (codegen/JIT)
    runs.foreach { case (n, fn) =>
      try { fn(base).count(); Sessions.dropCheckpoints(spark) } catch { case _: Throwable => () }
      System.err.println(s"[scale] warm $n done")
    }
    // interleaved min-of-2 per scale point
    val best = scala.collection.mutable
      .Map[(String, String), (Double, Long)]()
    val bestLoad = scala.collection.mutable
      .Map[(String, String), (Double, Double)]()
    val points: Seq[String] = base +: dirs.map(_._2)
    for (pass <- 1 to 2; (name, fn) <- runs; d <- points) {
      val (sec, rows, lb, la) = time(fn, d)
      val key = (name, d)
      if (!best.contains(key) || sec < best(key)._1) {
        best(key) = (sec, rows)
        bestLoad(key) = (lb, la)
      }
      System.err.println(
        f"[scale] p$pass $name @$d: $sec%.1f s ($rows rows, " +
          f"load1m $lb%.0f→$la%.0f)")
    }

    // ---- q87 per-stage attribution (VERDICT r10 item 1): run the CF
    // chain once per scale with a forced materialization between
    // stages, so the slope has a NAMED owner instead of one total.
    // s3's checkpoint is measurement scaffolding (the production plan
    // feeds the top-M cut straight into the scoring join); it moves
    // work between s3/s4 but their SUM is the query.
    val stageNames = Seq("s1_ui_matrix", "s2_sims_f2", "s3_top_m",
      "s4_scoring", "s4_scoring_shuffle")
    val stageTimes =
      scala.collection.mutable.Map[(String, String), Double]()
    val stageTapes =
      scala.collection.mutable.Map[(String, String), Tape]()
    val stageLoads =
      scala.collection.mutable.Map[(String, String), (Double, Double)]()
    val tape = new TaskTape
    spark.sparkContext.addSparkListener(tape)
    // ONE stage timer for every attribution pass (was three identical
    // inline copies; a fourth consumer made the duplication a defect):
    // min-of-2 like the query table — single-pass stage numbers swung
    // ±40% on this host's noise windows. The metrics tape is kept
    // from the min-WALL pass so bytes and seconds describe the same
    // run (bytes themselves are deterministic across passes).
    def stageTimed[T](d: String, name: String)(f: => T): T = {
      org.apache.spark.GraftSparkInternals
        .waitUntilListenerBusEmpty(spark.sparkContext)
      val before = tape.snap
      val lb = HostLoad.loadavg()
      val t = System.nanoTime(); val r = f
      val sec = (System.nanoTime() - t) / 1e9
      org.apache.spark.GraftSparkInternals
        .waitUntilListenerBusEmpty(spark.sparkContext)
      val key = (name, d)
      if (!stageTimes.contains(key) || sec < stageTimes(key)) {
        stageTimes(key) = sec
        stageTapes(key) = tape.snap - before
        stageLoads(key) = (lb, HostLoad.loadavg())
      }
      r
    }
    // Stage passes follow the `only` filter like the query table does:
    // a partial run targeting the dedup family must not pay two
    // recommender stage attributions per scale point (at 100× those
    // cost more than the queries it came for). Full runs (no filter)
    // always attribute both.
    // an EMPTY filter means "stage passes only" (the query table above
    // already skips everything) — ADVICE r12: the bare empty-set
    // forall made it run neither and write an empty artifact
    val runQ87Stages =
      only.forall(s => s.isEmpty || s.contains("q87_item_cf"))
    val runQ92Stages =
      only.forall(s => s.isEmpty || s.contains("q92_hybrid_rec"))
    val runQ93Stages =
      only.forall(s => s.isEmpty || s.contains("q93_cf_eval"))
    if (runQ87Stages) for (pass <- 1 to 2; d <- points) {
      Sessions.dropCheckpoints(spark)
      def timed[T](name: String)(f: => T): T = stageTimed(d, name)(f)
      val ui = timed("s1_ui_matrix")(
        Recommend.uiMatrix(copurchases(spark, d), Recommend.UserItemCap))
      val stats = ui.agg(count(lit(1)),
        count_distinct(col("i"))).first()
      val (uiRows, nItems) = (stats.getLong(0), stats.getLong(1))
      val candEst = uiRows * Recommend.NeighborTopM
      val sims = timed("s2_sims_f2")(
        Recommend.simsTable(ui, Recommend.CoMinUsers, nItems))
      val nbr = timed("s3_top_m")(
        Recommend.topMFromSims(sims, Recommend.NeighborTopM)
          .localCheckpoint())
      val bound = nItems * Recommend.NeighborTopM
      timed("s4_scoring")(
        Recommend.scoreFromNbr(ui, nbr, bound, Recommend.RecK, candEst)
          .count())
      // same stage with the shuffle-hash fallback FORCED at every
      // point: within one strategy the slope isolates scaling from the
      // size-gate's broadcast→shuffle switch (which otherwise makes
      // the 10× and 30× points measure different plans)
      timed("s4_scoring_shuffle")(
        Recommend.scoreFromNbr(ui, nbr, Long.MaxValue, Recommend.RecK,
          candEst).count())
      System.err.println(s"[scale] q87 stages p$pass @$d: " + stageNames
        .map(n => f"$n=${stageTimes((n, d))}%.1f").mkString(", "))
    }

    // ---- q92 per-stage attribution (VERDICT r11 item 2): the hybrid's
    // 30× slope (1.32) exceeded both arms' (1.17/1.09) with no owner.
    // Serializing the arms behind checkpoint boundaries separates the
    // three hypotheses — a super-linear fusion join, a super-linear
    // arm, or CO-RESIDENCY (the fused single plan runs both arms'
    // shuffle/aggregate state concurrently in one heap + one disk).
    // h-stage sum = the serialized cost; the main table's q92 row is
    // the fused one-plan cost; their gap at each scale IS the
    // co-residency tax, which the table below prints per point.
    val q92StageNames = Seq("h1_ui_matrix", "h2_cf_arm", "h3_cn_arm",
      "h4_fusion")
    if (runQ92Stages) for (pass <- 1 to 2; d <- points) {
      Sessions.dropCheckpoints(spark)
      def timed92[T](name: String)(f: => T): T = stageTimed(d, name)(f)
      val ui = timed92("h1_ui_matrix")(
        Recommend.uiMatrix(copurchases(spark, d), Recommend.UserItemCap))
      // localCheckpoint is EAGER: each arm fully materializes inside
      // its own timed window, and the fusion then reads two
      // ExistingRDD scans, as q92 does in a session where rec_cf and
      // rec_cn are memo entries (h1's checkpoint is rec_ui's)
      val cfT = timed92("h2_cf_arm")(
        Recommend.itemCfTop(ui, Recommend.CoMinUsers,
          Recommend.NeighborTopM, Recommend.RecK).localCheckpoint())
      val cnT = timed92("h3_cn_arm")(
        Recommend.contentTop(ui, part(spark, d), Recommend.UserItemCap,
          Recommend.ProfileTopF, Recommend.RecK).localCheckpoint())
      timed92("h4_fusion")(
        Recommend.fuse(cfT, cnT, Recommend.RecK).count())
      System.err.println(s"[scale] q92 stages p$pass @$d: " + q92StageNames
        .map(n => f"$n=${stageTimes((n, d))}%.1f").mkString(", "))
    }

    // ---- q93 per-stage attribution (VERDICT r13 item 7): the eval
    // wrapper shares q87's gated retrain chain, but its OWN joins —
    // the leave-one-out holdout split (distinct + per-user max +
    // anti-join) and the hit-rate rollup — had no decade evidence of
    // their own. Forced checkpoint boundaries give each a named wall,
    // bytes, and spill column, so "the eval side is linear" is a
    // measurement, not an inference from the shared chain.
    val q93StageNames = Seq("e1_holdout_split", "e2_retrain_cf",
      "e3_eval_join")
    if (runQ93Stages) for (pass <- 1 to 2; d <- points) {
      Sessions.dropCheckpoints(spark)
      def timed93[T](name: String)(f: => T): T = stageTimed(d, name)(f)
      // e1: the interaction distinct + per-user holdout pick — both
      // checkpoints are eager, so the whole split materializes in the
      // timed window (cfEvalOn's own chain, boundaries forced)
      val (all93, hold93) = timed93("e1_holdout_split") {
        val all = copurchases(spark, d).select(col("u"), col("i"))
          .distinct().localCheckpoint()
        val hold = all.groupBy(col("u"))
          .agg(max(col("i")).as("held"), count(lit(1)).as("n"))
          .filter(col("n") >= Recommend.EvalMinOwned)
          .select(col("u"), col("held")).localCheckpoint()
        (all, hold)
      }
      // e2: the anti-join train slice + the full volume-gated CF
      // retrain (q87's chain verbatim — its own stage table owns the
      // inner decomposition)
      val recs93 = timed93("e2_retrain_cf") {
        val train = all93.join(
          hold93.select(col("u"), col("held").as("i")), Seq("u", "i"),
          "left_anti")
        Recommend.itemCfTop(
          Recommend.uiMatrix(train, Recommend.UserItemCap),
          Recommend.CoMinUsers, Recommend.NeighborTopM,
          Recommend.RecK).localCheckpoint()
      }
      // e3: the hit join + rollup — users×k rows against the holdout
      timed93("e3_eval_join") {
        val hits = recs93.join(hold93,
            recs93("custkey") === hold93("u") &&
              recs93("item") === hold93("held"))
          .agg(count(lit(1)).as("n_hit"))
        hold93.agg(count(lit(1)).as("n_eval")).crossJoin(hits).count()
      }
      System.err.println(s"[scale] q93 stages p$pass @$d: " + q93StageNames
        .map(n => f"$n=${stageTimes((n, d))}%.1f").mkString(", "))
    }

    // ---- dedup-composition per-stage attribution (VERDICT r14 item
    // 3): q61/q65/q80 chain q58's pair list through star-contraction
    // CC and the group-keyed split/audit. The contraction is the
    // suspect — it iterates (one job per round), so a hidden
    // super-linear term would live in the round count or a round's
    // shuffle, not in any single plan. Forced checkpoint boundaries
    // give the pair build, the CC rounds, and the split tail each a
    // named wall, bytes, and spill column. Stages compose the SAME
    // entry points production uses (shingleNeardupOn /
    // dupClustersFrom / leakageSplitFrom) — no inline rebuilds.
    val chainStageNames = Seq("c1_pair_list", "c2_cc_contraction",
      "c3_split_audit")
    val runChainStages =
      only.forall(s => s.isEmpty || s.contains("q80_leakage_split"))
    if (runChainStages) for (pass <- 1 to 2; d <- points) {
      Sessions.dropCheckpoints(spark)
      def timedC[T](name: String)(f: => T): T = stageTimed(d, name)(f)
      val docs = documents(spark, d)
      val pairs = timedC("c1_pair_list")(
        SetSimilarity.shingleNeardupOn(docs)
          .select(col("doc_a"), col("doc_b")).localCheckpoint())
      val clusters = timedC("c2_cc_contraction")(
        graft.ops.Pipeline.dupClustersFrom(pairs).localCheckpoint())
      timedC("c3_split_audit")(
        graft.ops.Pipeline.leakageSplitFrom(docs, pairs, clusters)
          .count())
      System.err.println(s"[scale] chain stages p$pass @$d: " +
        chainStageNames
          .map(n => f"$n=${stageTimes((n, d))}%.1f").mkString(", "))
    }

    // ---- q85 per-stage attribution (VERDICT r15 item 3): the exact
    // gram-overlap's suspect is the gram-keyed exchange — the distinct
    // (source, gram) set is corpus-sized, and a boilerplate gram
    // shared by all sources is a frequency-hot key (the sources²
    // bound caps OUTPUT per gram, not the posting a task receives).
    // Forced checkpoint boundaries give the gram-set build and the
    // self-join + pair aggregate each a named wall, bytes, and spill
    // column; per-node evidence is `graft.StageProbe <dir> q85`.
    // Stages compose the SAME pieces production uses
    // (sourceGramSet / sourceGramPairsFrom).
    val q85StageNames = Seq("g1_gram_set", "g2_pair_join")
    val runQ85Stages =
      only.forall(s => s.isEmpty || s.contains("q85_source_gram_overlap"))
    if (runQ85Stages) for (pass <- 1 to 2; d <- points) {
      Sessions.dropCheckpoints(spark)
      def timedG[T](name: String)(f: => T): T = stageTimed(d, name)(f)
      val sg = timedG("g1_gram_set")(
        graft.ops.Pipeline.sourceGramSet(documents(spark, d))
          .localCheckpoint())
      timedG("g2_pair_join")(
        graft.ops.Pipeline.sourceGramPairsFrom(sg).count())
      System.err.println(s"[scale] q85 stages p$pass @$d: " +
        q85StageNames
          .map(n => f"$n=${stageTimes((n, d))}%.1f").mkString(", "))
    }

    // the vocabulary-bounded claim, measured at every scale
    val classCounts = points.map { d =>
      d -> Recommend.itemClasses(
        Recommend.contentFeats(part(spark, d)))
        .select(col("ck")).distinct().count()
    }

    val md = new StringBuilder
    md ++= "# SCALE — measured multi-point stress of the recommender/" +
      "dedup family\n\n"
    md ++= s"Generated at commit ${GitStamp.sha}.\n\n"
    md ++= s"Synthesized ${factors.mkString("×, ")}× copies of $baseLabel\n"
    md ++= "(construction: disjoint id-offset replicas; part attributes\n"
    md ++= "verbatim → constant feature vocabulary; per-replica token\n"
    md ++= "suffix on documents → no cross-replica near-dups; SemDeDup\n"
    md ++= "runs k ∝ corpus). Times are min-of-2, interleaved, one\n"
    md ++= s"warmed session, local[$cpus]; memo-free entry points (the\n"
    md ++= "algorithms, not the session cache). Session shuffle\n"
    md ++= s"partitions stay at $cpus at every scale; the CF chain's two\n"
    md ++= "corpus-scale shuffles are volume-gated INSIDE the operator\n"
    md ++= "(Recommend.sizedByCardinality): past a measured 4M-rows-per-\n"
    md ++= "task spill guard they repartition by their grouping keys at\n"
    md ++= "exact-cardinality-scaled parallelism, which is what removed\n"
    md ++= "the 27-30 GiB per-stage aggregate spills the fixed-width\n"
    md ++= "32-partition plan produced at 30× (blanket 32·N partitions\n"
    md ++= "and AQE initialPartitionNum were both tried and measured\n"
    md ++= "worse: they fatten or starve the SMALL stages too).\n"
    md ++= "Regenerate: `SPARK_DRIVER_MEM=48g sbt \"runMain " +
      "graft.ScaleStress\"` — the 30× points hold two recommender arms' " +
      "state in one JVM (this run: " +
      s"${Runtime.getRuntime.maxMemory / (1L << 30)} GiB heap).\n\n"
    // Host-window attributions (VERDICT r13 item 4): a same-host
    // re-measure (interleaved binary A/B, or a quiet-window targeted
    // probe) that disproves a table wall is RECORDED in
    // diag/scale_attributions.tsv
    // (query<TAB>point<TAB>disproven_sec<TAB>calibrated_sec<TAB>
    // evidence-path). When a regeneration lands near the disproven
    // number again, the row itself carries an inline † marker pointing
    // at the evidence — the correction must never live only in prose
    // 170 lines away from the number it corrects. A regeneration that
    // lands near the calibrated number needs no marker.
    case class Attrib(query: String, point: String, disproven: Double,
        calibrated: Double, evidence: String)
    val attribs: Seq[Attrib] = try {
      val p = java.nio.file.Paths.get("diag/scale_attributions.tsv")
      if (!java.nio.file.Files.exists(p)) Nil
      else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
        .filterNot(l => l.trim.isEmpty || l.trim.startsWith("#"))
        .flatMap(l => l.split("\t").map(_.trim) match {
          case Array(q, pt, ds, cs, ev) =>
            Some(Attrib(q, pt, ds.toDouble, cs.toDouble, ev))
          case bad =>
            System.err.println(
              s"[scale] malformed attribution line skipped: $l")
            None
        }).toList
    } catch { case t: Throwable =>
      System.err.println(s"[scale] attributions unreadable: $t"); Nil }
    val applied =
      scala.collection.mutable.ListBuffer[(Attrib, Double)]()
    // the marker applies only INSIDE the disproven band — above the
    // calibrated wall but not past the disproven one by more than the
    // same 25% margin. A wall far beyond the disproven number is a new
    // fact (possibly a genuine regression), and auto-dismissing it as
    // the old host window would blind the table to exactly what it
    // exists to show.
    def attribFor(name: String, point: String, sec: Double)
    : Option[Attrib] = attribs.find(a =>
      a.query == name && a.point == point &&
        sec >= a.calibrated * 1.25 && sec <= a.disproven * 1.25)
    def attribMark(name: String, point: String, sec: Double): String =
      attribFor(name, point, sec).map { a =>
        applied += ((a, sec)); s"†${applied.size}"
      }.getOrElse("")
    val fHdr = factors.map(n => s"${n}× sec | ${n}× ratio").mkString(" | ")
    md ++= s"| query | $baseLabel sec | $fHdr | slope | $baseLabel rows | " +
      s"${factors.map(n => s"${n}× rows").mkString(" | ")} |\n"
    md ++= "|---" + "|---" * (2 + 2 * factors.size + factors.size) + "|\n"
    runs.foreach { case (name, _) =>
      val (s1, r1) = best((name, base))
      val fCols = factors.map { n =>
        val (sN, _) = best((name, s"target/scale$n"))
        f"$sN%.1f${attribMark(name, s"${n}x", sN)} | ${sN / s1}%.1f×"
      }.mkString(" | ")
      // slope = per-replica cost at the LAST point / at the FIRST:
      // (tN2/tN1)/(N2/N1). ≈1 → linear; ≫1 → super-linear tail.
      val slope =
        if (factors.size < 2) "n/a"
        else {
          val (sA, _) = best((name, s"target/scale${factors.head}"))
          val (sB, _) = best((name, s"target/scale${factors.last}"))
          // a slope built on a host-window-flagged endpoint inherits
          // the flag (without its own footnote number — the cell's
          // marker carries the evidence)
          val flagged =
            attribFor(name, s"${factors.head}x", sA).isDefined ||
              attribFor(name, s"${factors.last}x", sB).isDefined
          f"${(sB / sA) / (factors.last.toDouble / factors.head)}%.2f" +
            (if (flagged) "†" else "")
        }
      val rCols = factors.map { n =>
        best((name, s"target/scale$n"))._2.toString }.mkString(" | ")
      md ++= f"| $name | $s1%.1f | $fCols | $slope | $r1 | $rCols |\n"
    }
    if (applied.nonEmpty) {
      md ++= "\n"
      applied.zipWithIndex.foreach { case ((a, sec), i) =>
        md ++= f"†${i + 1} host-window attribution: this regeneration " +
          f"measured $sec%.1f s, in the regime a same-host re-measure " +
          f"(`${a.evidence}`) already disproved — the calibrated " +
          f"run scored ~${a.calibrated}%.1f s where a prior " +
          f"regeneration printed ${a.disproven}%.1f s. Read the " +
          "deterministic columns (rows, plan shapes, spill), not this " +
          "wall.\n"
      }
    }
    // per-row host-load bracket of the min-wall pass (VERDICT r13
    // item 5) — the first thing to check before attributing any moved
    // wall above
    md ++= "\n### host-load telemetry (1-min loadavg before→after " +
      s"each min-wall pass; self-load during a pass is ≈$cpus)\n\n"
    md ++= s"| query | $baseLabel | " +
      factors.map(n => s"${n}×").mkString(" | ") + " |\n"
    md ++= "|---" * (2 + factors.size) + "|\n"
    runs.foreach { case (name, _) =>
      val cols = points.map { d =>
        val (lb, la) = bestLoad.getOrElse((name, d), (-1.0, -1.0))
        f"$lb%.0f→$la%.0f"
      }.mkString(" | ")
      md ++= s"| $name | $cols |\n"
    }
    // per-replica cost at the LAST point over the FIRST: ≈1 → linear
    def slopeOf(times: String => Double): String =
      if (factors.size < 2) "n/a"
      else f"${(times(s"target/scale${factors.last}") /
        math.max(times(s"target/scale${factors.head}"), 1e-3)) /
        (factors.last.toDouble / factors.head)}%.2f"
    def stageRow(label: String, times: String => Double): String =
      s"| $label | " + points.map(d => f"${times(d)}%.1f").mkString(" | ") +
        s" | ${slopeOf(times)} |\n"
    // one stage-attribution section: a wall row per stage, plus slope
    def stageTable(title: String, legend: String,
        names: Seq[String]): Unit = {
      md ++= s"\n## $title\n\n$legend\n\n"
      md ++= s"| stage | $baseLabel sec | " +
        factors.map(n => s"${n}× sec").mkString(" | ") + " | slope |\n"
      md ++= "|---" * (3 + factors.size) + "|\n"
      names.foreach(n => md ++= stageRow(n, d => stageTimes((n, d))))
    }

    // q87 stage-attribution table (one timed pass per scale)
    if (runQ87Stages) stageTable(
      "q87 stage attribution (min-of-2 per scale, forced stage " +
        "boundaries)",
      "s3 is checkpointed for measurement (production fuses s3→s4" +
        "; their sum is the query). ui = distinct+cap matrix; sims = " +
        "the f² co-occurrence self-join + cosine; top_m = symmetrize + " +
        "per-item rank; scoring = candidate join + (u,j) agg + " +
        "anti-join + top-k.",
      stageNames)

    // q92 stage-attribution table: serialized arms + fusion vs the
    // fused one-plan run from the main table
    if (runQ92Stages) {
      stageTable(
        "q92 stage attribution (min-of-2 per scale, arms serialized " +
          "behind checkpoint boundaries)",
        "ui = the shared capped matrix; cf_arm = q87's full CF " +
          "top-k over it; cn_arm = q89's full content top-k over it; " +
          "fusion = the full-outer CombSUM join + per-user re-rank over " +
          "two k-per-user checkpointed frames. `h_sum` is the SERIALIZED " +
          "cost (arms run one after the other, each with the whole " +
          "heap/disk to itself); `q92 fused` is the main table's " +
          "one-plan run where both arms execute concurrently inside one " +
          "plan; `co-residency gap` = fused − sum: the cost of the two " +
          "arms' shuffle/aggregate state sharing one JVM heap and one " +
          "spill disk. On a real cluster the gap prices contention, not " +
          "algorithm — executors scale with data and each arm's per-node " +
          "state share stays constant.",
        q92StageNames)
      val hSum = (d: String) => q92StageNames.map(n => stageTimes((n, d))).sum
      md ++= stageRow("h_sum (serialized)", hSum)
      if (best.contains(("q92_hybrid_rec", base))) {
        val fused = (d: String) => best(("q92_hybrid_rec", d))._1
        md ++= stageRow("q92 fused (one plan)", fused)
        md ++= s"| co-residency gap | " +
          points.map(d => f"${fused(d) - hSum(d)}%.1f").mkString(" | ") +
          " | — |\n"
      }
    }

    // q93 stage-attribution table (VERDICT r13 item 7): the eval
    // side's own stages, separated from the shared retrain
    if (runQ93Stages) stageTable(
      "q93 stage attribution (min-of-2 per scale, forced stage " +
        "boundaries)",
      "holdout_split = interaction distinct + per-user " +
        "(max item, count) pick; retrain_cf = the anti-join train " +
        "slice + q87's full volume-gated CF top-k (its own stage table " +
        "owns the inner decomposition); eval_join = the users×k recs ⋈ " +
        "holdout hit join + rollup. The checkpoint boundaries are " +
        "measurement scaffolding; the stages' sum is the query.",
      q93StageNames)

    // dedup-composition stage-attribution table (VERDICT r14 item 3)
    if (runChainStages) stageTable(
      "dedup-composition stage attribution (q61/q65/q80 chain; " +
        "min-of-2 per scale, forced stage boundaries)",
      "pair_list = q58's banded LSH near-dup pairs (volume-" +
        "gated, output-sized); cc_contraction = star-contraction " +
        "connected components over the pair graph (iterative, " +
        "per-round localCheckpoint — the round count is O(log " +
        "diameter), printed by the run log); split_audit = q80's " +
        "token-count join + canon-hash split + cross-pair audit. " +
        "q61's anti-join tail and q65's relabel are strict subsets of " +
        "these stages; their full-query walls sit in the main table.",
      chainStageNames)

    // q85 stage-attribution table (VERDICT r15 item 3)
    if (runQ85Stages) stageTable(
      "q85 exact gram-overlap stage attribution (min-of-2 per scale, " +
        "forced stage boundary)",
      "gram_set = tokenize + 5-gram explode + distinct " +
        "(source, gram) — the corpus-sized build; pair_join = the " +
        "gram-keyed self-join + (src_a, src_b) pair aggregate — the " +
        "exchange whose skew question this table answers (per-gram " +
        "join input ≤ #sources because the set is distinct; per-node " +
        "spill evidence: `graft.StageProbe <dir> q85`).",
      q85StageNames)

    // the same stages in BYTES and CPU (from the min-wall pass): if
    // shuffle bytes and CPU grow ∝ data while wall grows faster, the
    // algorithm is linear and the excess is this host's one disk and
    // one heap absorbing 30× the traffic — on a cluster the per-node
    // share of these bytes is constant as executors scale with data.
    val ioStages = (if (runQ87Stages) stageNames else Nil) ++
      (if (runQ92Stages) q92StageNames else Nil) ++
      (if (runQ93Stages) q93StageNames else Nil) ++
      (if (runChainStages) chainStageNames else Nil) ++
      (if (runQ85Stages) q85StageNames else Nil)
    if (ioStages.nonEmpty) {
    md ++= "\n### stage I/O + CPU (min-wall pass; GiB = 2^30 bytes; " +
      "load1m = host loadavg before→after the pass, self ≈ " +
      s"$cpus while running)\n\n"
    md ++= "| stage | point | wall s | shuffle w+r GiB | spill " +
      "mem/disk GiB | gc s | cpu s | run s | load1m |\n"
    md ++= "|---|---|---|---|---|---|---|---|---|\n"
    ioStages.foreach { n =>
      points.foreach { d =>
        val tp = stageTapes((n, d))
        val gib = (b: Long) => f"${b / math.pow(2, 30)}%.2f"
        val label = factorOf.get(d).map(f => s"${f}×").getOrElse("1×")
        val (lb, la) = stageLoads.getOrElse((n, d), (-1.0, -1.0))
        md ++= f"| $n | $label | ${stageTimes((n, d))}%.1f | " +
          f"${gib(tp.shufWrite)}+${gib(tp.shufRead)} | " +
          f"${gib(tp.spillMem)}/${gib(tp.spillDisk)} | " +
          f"${tp.gcMs / 1e3}%.1f | ${tp.cpuNs / 1e9}%.1f | " +
          f"${tp.runMs / 1e3}%.1f | $lb%.0f→$la%.0f |\n"
      }
    }
    }

    // The s4 shuffle-byte OWNERS (VERDICT r11 item 3) — measured once
    // per-node with `graft.StageProbe <dir> s4` (r12 artifacts:
    // target/diag/s4probe_{10x,30x}.out); prose pinned here so the
    // regenerated SCALE.md always carries the attribution. Bytes are
    // deterministic per plan+data, unlike walls, so a pinned
    // decomposition stays valid until the plan itself changes.
    if (runQ87Stages) md ++= "\n**s4_scoring's super-linear-looking shuffle bytes are a " +
      "one-time regime shift at the spill-guard boundary, not " +
      "growth** (per-node decomposition, `graft.StageProbe " +
      "target/scale30 s4`): below the guard (1×/10×) the stock plan " +
      "ships ONE full-stream-sized exchange — at 10×: 1.14 GiB of " +
      "partial-aggregated candidates (the 105.2M-row stream enters a " +
      "map-side partial aggregate first, deduping only 5%, " +
      "105.2M→99.5M) plus 0.17 GiB of WindowGroupLimit partial-cut " +
      "survivors (95.6M→13.7M rows cut before the exchange) and a " +
      "0.05 GiB anti-join side; the candidate join itself is a " +
      "broadcast (320 MiB neighbor table), shuffle-free. Above the " +
      "guard (30×) the operator deliberately trades bytes for " +
      "memory: the 315.7M-row candidate stream is clustered by " +
      "(u, j) BEFORE aggregation (4.12 GiB — replacing the partial " +
      "aggregate that deduped 5% while spilling 29 GiB), the scored " +
      "286.8M-row stream is clustered by (u) for the top-k window " +
      "(3.86 GiB — replacing the per-task partial sort that spilled " +
      "27 GiB), and the neighbor table rides shuffle-hash exchanges " +
      "instead of a driver broadcast (0.40 GiB of join sides). Sum " +
      "8.38 GiB vs ~4.1 GiB if the 10× regime scaled linearly — a " +
      "2× constant factor for two full-stream exchanges instead of " +
      "one, bought back as 0.00 GiB spill (the spill columns above) " +
      "where the stock plan spilled ~56 GiB across the two stages. " +
      "Within each regime bytes are linear in data; the stage wall " +
      "slope (>1.5 across the boundary) prices this shift plus " +
      "single-host GC, not algorithmic super-linearity.\n"
    // h3's GC share, attributed once per-node (VERDICT r14 item 5) —
    // pinned prose like the s4 byte decomposition: the probe result
    // stays valid until the scorer or the stress layout changes.
    if (runQ92Stages) md ++= "\n**h3_cn_arm's GC share is the " +
      "co-resident session, not the scorer** (VERDICT r14 item 5; " +
      "probe `diag/r15/cnprobe_30x.out`): in-stress the arm showed " +
      "23.5 s of GC in a 51.2 s wall — the worst GC share of any " +
      "stage — raising the question whether ContentScoreAgg's " +
      "per-row immutable-Seq inserts and per-user finish allocations " +
      "own it. The SAME stage standalone in a fresh 48 GiB JVM " +
      "(`graft.StageProbe target/scale30 cn`, ui prebuilt outside " +
      "the window exactly like the stress pass) ran 57.9 s with " +
      "**1.4 s of GC** — the scorer allocates almost nothing the " +
      "collector cares about; the in-stress GC prices collecting " +
      "the co-resident arms' accumulated state in one shared heap. " +
      "No buffer rewrite warranted.\n"
    md ++= "\n**q89 content classes** (the vocabulary-bounded claim): " +
      classCounts.map { case (d, c) => s"$c @ $d" }.mkString(", ") +
      " — constant while the catalog grows " +
      s"${factors.last}× (linear-in-catalog would be ${factors.last}×).\n\n"
    // The 100× decade check is a SEPARATE targeted run (r12; VERDICT
    // r11 item 7) — pinned here like the s4 byte decomposition so a
    // full regeneration keeps it (its numbers come from the preserved
    // diag/r12 artifacts, not from this run). Only the full artifact
    // carries it; a partial run's SCALE_partial.md stays raw.
    if (only.isEmpty) md ++= Decade100Section
    md ++= "Reading: a time ratio ≲ the data factor is linear-or-better " +
      "(N× data on fixed cores costs ≥N× work if the algorithm is " +
      "linear); the SLOPE column is the per-replica cost of the last " +
      "point relative to the first — ≈1 means the ratio is a constant " +
      "plus linear work (the constant amortizes), sustained >1.5 would " +
      "flag a super-linear candidate stage. Row ratios confirm output " +
      "structure scaled as designed (dup pairs ×N, recommendations ×N, " +
      "one summary row stays 1).\n"
    val outFile = if (only.isDefined) "SCALE_partial.md" else "SCALE.md"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      md.toString.getBytes("UTF-8"))
    println(md.toString)
    spark.stop()
  }
}
