package graft.mining

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Item-item collaborative-filtering recommendations — the recommender
  * composition the reference's Assignment3 materials describe
  * (`Assignment3/description(2).pdf` §4.2-4.3: build item similarity
  * from the user-item matrix, score a user's candidates from their
  * owned items' neighbors) over the co-purchase matrix this testdata
  * actually has (customer × part via orders/lineitem). The classic
  * MMDS ch.9 item-based CF: cosine over implicit binary interactions,
  * sim(i, j) = |U_i ∩ U_j| / √(|U_i|·|U_j|).
  *
  * Scale shape, stage by stage (the 100 TB plan, tested at sf):
  *  - the user-item matrix is corpus-sized; everything item-keyed after
  *    it is DIMENSION-sized (items × top-M neighbors).
  *  - power users are CAPPED out ([[UserItemCap]]) before the
  *    co-occurrence self-join — the f² term is Σ_u n_u², so one
  *    scrape-everything account otherwise dominates the shuffle (the
  *    same df-cap move as the q33 graph build, and standard CF practice:
  *    an own-everything user carries no preference signal). The cap is
  *    mirrored in the oracle.
  *  - item-item cosine is EXACT and cross-engine bit-identical: the
  *    co-count and both degrees are exact ints, products stay under
  *    2^53, √ is IEEE-correctly-rounded in both engines, one division —
  *    then pinned to 6 dp (floor-half-up, no slack needed).
  *  - each item keeps only its top-[[NeighborTopM]] neighbors
  *    (sim desc, id asc ties) — the neighbor table is items × M,
  *    broadcast into the scoring join so the corpus-sized user-item
  *    side never reshuffles. The per-item rank window partitions on
  *    item with ≤ |items| rows (a dimension, never the corpus).
  *  - scoring: owned items × their neighbor lists (≤ cap × M
  *    candidates per user), minus already-owned (anti-join on the
  *    natural (user, item) key), summed per (user, item). The sum
  *    accumulates in engine order → the 1e-9-ulp-slack floor idiom at
  *    4 dp on both sides. Top-[[RecK]] per user by (score desc, item
  *    asc) — the window partition is one user's candidate set, ≤
  *    cap × M rows by construction.
  */
object Recommend {

  /** Max distinct items per user admitted to CF (power-user df cap —
    * bites the top ~5% at sf0.01, which keeps the cap's oracle mirror
    * honest rather than vacuous). */
  val UserItemCap = 64
  /** Minimum co-users before an item pair gets a similarity (c ≥ 2:
    * singleton co-occurrence is noise and the pair count is the f²
    * term). */
  val CoMinUsers = 2
  /** Neighbors kept per item (the item-sim table is items × this). */
  val NeighborTopM = 20
  /** Recommendations emitted per user. */
  val RecK = 3

  /** Item-keyed "dimension" tables (the items×M neighbor table, the
    * items×3 feature table) are broadcast into the corpus-sized
    * scoring joins only below this many rows. An items×M table stops
    * being dimension-sized when the CATALOG itself is corpus-scale:
    * at the 30× stress the 11.4M-row neighbor table's single-threaded
    * broadcast build+ship erased the map-side win (measured 40–60 s
    * broadcast vs 47.8 s shuffle), and at a 10M-item catalog it would
    * OOM the driver — above the gate the join falls back to a shuffle
    * hash join, the correct shape when both sides are big. */
  val BroadcastDimRows = 4000000L

  /** Byte cap on the same dimension broadcasts — the row-count bound
    * alone is a proxy calibrated on THIS data's narrow rows, and a
    * sub-4M-row table of WIDE data-dependent payloads (feature
    * strings, class item arrays) would blow Spark's 8 GiB broadcast
    * hard limit while passing any count bound (the round-13 LSH
    * lesson, `SetSimilarity.LshLookupBroadcastBytes`, applied to this
    * family). A dimension broadcasts only when BOTH bounds hold;
    * otherwise the join rides shuffle-hash, correct at any payload.
    * 2 GiB: a quarter of the hard limit, same margin as the LSH cap. */
  val DimBroadcastBytes = 2L << 30

  private[graft] def dimHint(df: DataFrame, rows: Long,
      bytes: Long): DataFrame =
    if (rows <= BroadcastDimRows && bytes <= DimBroadcastBytes)
      broadcast(df)
    else df.hint("shuffle_hash")

  /** Payload bytes of `rows` FIXED-width dimension rows (UnsafeRow:
    * 8 B null bitset + 8 B per column slot) — for a fixed-width
    * schema, count × width IS the measured payload (no data-dependent
    * term), so the byte bound needs no extra job. Saturating: callers
    * pass Long.MaxValue row bounds to force the shuffle branch. */
  private[graft] def fixedDimBytes(rows: Long, nCols: Int): Long = {
    val w = 8L * (nCols + 1)
    if (rows > Long.MaxValue / w) Long.MaxValue else rows * w
  }

  /** Measured (rows, payload bytes) of a CHECKPOINTED dimension frame
    * whose rows carry data-dependent payloads — ONE aggregate job
    * (a local scan: every caller hands in a localCheckpoint'd frame),
    * `perRowBytes` a SQL expression estimating one row's in-memory
    * bytes. Order-of-magnitude honest, like the LSH gate's
    * `payloadBytesExpr`: consumers compare it against
    * [[DimBroadcastBytes]], they don't budget with it. */
  private[graft] def measuredDim(df: DataFrame,
      perRowBytes: String): (Long, Long) = {
    val r = df.agg(count(lit(1)).cast("long"),
      coalesce(sum(expr(perRowBytes)), lit(0L)).cast("long")).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Per-task row volume above which this family's 30-50 B unsafe
    * rows overflow a task's aggregate hash map / window sort and fall
    * back to spill — measured, not guessed (StageProbe @sf: 3.4M
    * rows/task ran fully in memory at 10×; 9–10M rows/task fell back
    * to sort-based aggregation and spilled 27–30 GiB per stage at
    * 30×). Below the guard the stock plan is ALWAYS kept: its
    * map-side partial aggregate and two-phase WindowGroupLimit cut
    * shuffle volume, which wins whenever memory isn't the binding
    * constraint. */
  val SpillGuardRowsPerTask = 4000000L

  /** Target rows per reduce partition once a shuffle IS rewritten
    * past the guard — ~100–200 MB of unsafe rows per task, fully
    * in-memory with headroom for co-resident operators. */
  val ShuffleRowsPerPartition = 2000000L

  /** Volume-gated layout for a corpus-scale shuffle: BELOW the spill
    * guard, return the frame untouched (the session's
    * `spark.sql.shuffle.partitions` plan — partial aggregation,
    * two-phase window limits — is proven and fastest). ABOVE it,
    * cluster by the downstream keys at cardinality-scaled
    * parallelism so per-task state stays in memory — the "size your
    * shuffle to the data" rule every 100 TB job applies, here from
    * an EXACT cardinality estimate instead of a guess. */
  private[graft] def sizedByCardinality(df: DataFrame, estRows: Long,
      keys: Column*): DataFrame =
    sizedByCardinality(df, estRows, SpillGuardRowsPerTask, keys: _*)

  /** Guard-parameterized form: [[SpillGuardRowsPerTask]] was measured
    * on the CF chain's WIDE rows (id + score + array payloads);
    * narrow streams hold far more rows per task before their
    * aggregate state outgrows memory, and a caller with measured
    * endpoints for its own row shape passes its own bound (see
    * `SetSimilarity.PairDedupGuardRowsPerTask`). */
  private[graft] def sizedByCardinality(df: DataFrame, estRows: Long,
      guardRowsPerTask: Long, keys: Column*): DataFrame = {
    val floor = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    if (estRows / floor <= guardRowsPerTask) df
    else df.repartition(
      math.min(4096L, estRows / ShuffleRowsPerPartition).toInt,
      keys: _*)
  }

  /** The co-purchase interaction frame (customer × part via
    * orders/lineitem) every registered recommender trains on. */
  private[graft] def copurchases(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey").as("ok"),
        col("l_partkey").as("i"))
      .join(orders(s, d).select(col("o_orderkey").as("ok"),
        col("o_custkey").as("u")), "ok")
      .select(col("u"), col("i"))

  /** The capped ui matrix / CF top-k / content top-k as SESSION-MEMOIZED
    * artifacts keyed on the dataset path ([[graft.Memo]]): q87, q89 and
    * q92 share them, so the hybrid costs one fusion join instead of a
    * full re-run of both arms, exactly like a production stack serving
    * several recommenders off one materialized index. */
  private def uiArtifact(s: SparkSession, d: String): DataFrame =
    graft.Memo.of(s, d, "rec_ui")(uiPlan(copurchases(s, d), UserItemCap))

  // the memoized artifacts are the UNORDERED tops: q87/q89 re-sort at
  // their presentation edge and q92's fusion never needed the sort
  private def cfArtifact(s: SparkSession, d: String): DataFrame =
    graft.Memo.of(s, d, "rec_cf")(
      itemCfTop(uiArtifact(s, d), CoMinUsers, NeighborTopM, RecK))

  private def cnArtifact(s: SparkSession, d: String): DataFrame =
    graft.Memo.of(s, d, "rec_cn")(
      contentTop(uiArtifact(s, d), part(s, d), UserItemCap,
        ProfileTopF, RecK))

  /** q87: top-[[RecK]] item recommendations per customer. */
  def itemCf(s: SparkSession, d: String): DataFrame =
    cfArtifact(s, d).orderBy(col("custkey"), col("rec_rank"))

  /** The deduped, power-user-capped user-item matrix — checkpointed
    * because every downstream stage reads it (5+ readers: the pair
    * estimate job, degrees, both self-join sides, candidate generation,
    * the ownership anti-join). */
  private[graft] def uiMatrix(interactions: DataFrame, cap: Int): DataFrame =
    uiPlan(interactions, cap).localCheckpoint()

  /** [[uiMatrix]] before its checkpoint: the memoized rec_ui artifact
    * hands this to [[graft.Memo]], which checkpoints it once. */
  private def uiPlan(interactions: DataFrame, cap: Int): DataFrame = {
    val ui0 = interactions.select(col("u"), col("i")).distinct()
    val keptUsers = ui0.groupBy(col("u"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= cap).select(col("u"))
    ui0.join(keptUsers, Seq("u"), "left_semi")
  }

  /** The item-similarity index: top-`topM` cosine neighbors per item
    * as (i, j, sim) — the static artifact the batch recommender (q87)
    * and the ingest-time path ([[recsForInteractions]]) both consume.
    * Split into [[simsTable]] → [[topMFromSims]] so the scale stress
    * can time the f² pair build and the top-M cut separately (VERDICT
    * r10 item 1 — attributing q87's 30× slope stage by stage). */
  def neighborTable(ui: DataFrame, coMin: Int, topM: Int): DataFrame =
    neighborTable(ui, coMin, topM,
      ui.select(col("i")).distinct().count())

  /** [[neighborTable]] with the distinct-item count already known —
    * callers that need the count anyway (the CF chain sizes its
    * scoring join with it) pass it in so it's computed once. The
    * pair estimate is likewise computed ONCE here and reused as the
    * top-M cut's volume bound: every (ia,ib) sim row with c ≥ 2
    * absorbs ≥ 2 raw pair rows, so 2·|sims| ≤ Σ n_u(n_u−1)/2 — the
    * raw pair count soundly bounds the symmetrized stream with no
    * extra counting job. */
  def neighborTable(ui: DataFrame, coMin: Int, topM: Int,
      nItems: Long): DataFrame = {
    neighborTable(ui, coMin, topM, nItems, pairsEstimate(ui))
  }

  /** [[neighborTable]] with BOTH sizing scalars already known —
    * [[itemCfTop]] computes them in its one merged gate job. */
  def neighborTable(ui: DataFrame, coMin: Int, topM: Int,
      nItems: Long, pairsEst: Long): DataFrame =
    topMFromSims(simsTable(ui, coMin, nItems, pairsEst), topM, pairsEst)

  /** Stage 2 of the CF chain: the f² co-occurrence self-join and the
    * exact item-item cosine, MATERIALIZED (both symmetrization arms of
    * the top-M cut read it — without the checkpoint the whole pair
    * build runs twice; it doubled q87's bench). The degree joins are
    * size-gated like every other dimension join in this family: ideg
    * is ITEMS-sized, and a catalog past [[BroadcastDimRows]] must not
    * be forced through a driver-built broadcast — above the gate both
    * degree joins fall back to shuffle-hash on the pair frame's keys. */
  private[graft] def simsTable(ui: DataFrame, coMin: Int,
      nItems: Long): DataFrame =
    simsPlan(ui, coMin, nItems).localCheckpoint() // kept: 2 readers

  /** [[simsTable]] with the pair estimate already known ([[neighborTable]]
    * computes it once for the top-M cut too). */
  private[graft] def simsTable(ui: DataFrame, coMin: Int,
      nItems: Long, pairsEst: Long): DataFrame =
    simsPlan(ui, coMin, nItems, pairsEst).localCheckpoint() // kept: 2 readers

  /** The EXACT pair count Σ n_u·(n_u−1)/2 of the co-occurrence
    * self-join — the cardinality that sizes the pair aggregate's
    * shuffle. Runs ONE eager aggregate job over `ui`, so callers must
    * hand in the CHECKPOINTED matrix (ADVICE r11: a non-checkpointed
    * ui recomputes its whole upstream DAG just for this count). n ≤
    * the power-user cap, so n·(n−1)/2 ≤ 2016 and the sum fits a long
    * at any corpus size. */
  private[graft] def pairsEstimate(ui: DataFrame): Long = {
    (ui.groupBy(col("u")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - lit(1))).cast("long"))
      .first() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }) / 2
  }

  /** [[simsPlan]] computing its own [[pairsEstimate]] — convenience
    * for tests/probes. NOT lazy: constructing the plan runs the
    * estimate's aggregate job, so `ui` must be checkpointed (every
    * production caller reaches this through [[simsTable]], whose
    * input contract is the checkpointed [[uiMatrix]]). Callers that
    * only need the PLAN (explain dumps) should pass an estimate to
    * the 4-arg overload instead. */
  private[graft] def simsPlan(ui: DataFrame, coMin: Int,
      nItems: Long): DataFrame =
    simsPlan(ui, coMin, nItems, pairsEstimate(ui))

  /** The un-checkpointed pair-build plan — split out so tests can
    * assert the degree-join gate's physical shape (localCheckpoint
    * replaces the plan with an ExistingRDD scan). Plan construction
    * is LAZY: `pairsEst` comes in like `nItems` does.
    *
    * The pair aggregate goes through [[sizedByCardinality]] with the
    * EXACT pair count Σ n_u·(n_u−1)/2 (one cheap aggregate over the
    * checkpointed matrix — the cost-based "estimate cardinality, then
    * size the shuffle" step). Below the spill guard the stock plan is
    * kept; above it the pairs are repartitioned by their grouping
    * keys. Two measured reasons (StageProbe @30×): the pre-shuffle
    * partial aggregate deduped 0.09% of 338M pair rows — co-occurrence
    * counts ≥2 are rare, so map-side combine bought nothing — while
    * spilling 30 GiB; and the final aggregate held 10M keys per task
    * at 32 partitions, spilling another 29 GiB. With the explicit
    * repartition both aggregate passes run co-partitioned AFTER the
    * exchange on ~2M-row partitions, fully in memory; the shuffle
    * itself carries the same bytes the failed partial combine
    * shipped. */
  private[graft] def simsPlan(ui: DataFrame, coMin: Int,
      nItems: Long, pairsEst: Long): DataFrame = {
    val ideg = ui.groupBy(col("i")).agg(count(lit(1)).as("deg"))
    val rawPairs = ui.select(col("u"), col("i").as("ia"))
      .join(ui.select(col("u"), col("i").as("ib")), "u")
      .filter(col("ia") < col("ib"))
    val pairs = sizedByCardinality(rawPairs, pairsEst,
        col("ia"), col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= coMin)
    pairs
      .join(dimHint(ideg.select(col("i").as("ia"),
        col("deg").as("da")), nItems, fixedDimBytes(nItems, 2)), "ia")
      .join(dimHint(ideg.select(col("i").as("ib"),
        col("deg").as("db")), nItems, fixedDimBytes(nItems, 2)), "ib")
      .withColumn("sim", floor(col("c").cast("double") /
        sqrt(col("da").cast("double") * col("db")) * 1e6 + 0.5) / 1e6)
      .select(col("ia"), col("ib"), col("sim"))
  }

  /** Stage 3: symmetrize the (ia<ib) sims and keep each item's top-M
    * neighbors (sim desc, id asc) — the items×M dimension table.
    *
    * One explicit ia-exchange replaces the planner's two-phase
    * WindowGroupLimit (guide §2.4): the partial pass sorted the WHOLE
    * sym stream inside each input partition and cut nothing — the
    * stream arrives laid out by the pair aggregate's (ia,ib) hash, so
    * the expected rows per (task, ia) group is |sym_ia|/P ≪ topM at
    * any scale, and the partial limit can never fire (measured at
    * sf0.1 inside q93's executed plan: partial in 588,924 → out
    * 588,924, its sort 16.8 s summed task time / 1,040 MiB peak —
    * the single most expensive sort in the plan, for zero reduction).
    * Exchanging first costs the same bytes the partial pass shipped
    * (~100%) and leaves ONE sort. `symRowsBound = 0` (compat callers)
    * keeps session parallelism; past the spill guard the
    * exchange is cardinality-scaled like every corpus shuffle in this
    * family. */
  private[graft] def topMFromSims(sims: DataFrame, topM: Int): DataFrame =
    topMFromSims(sims, topM, 0L)

  private[graft] def topMFromSims(sims: DataFrame, topM: Int,
      symRowsBound: Long): DataFrame = {
    val sym = sims.unionByName(sims.select(col("ib").as("ia"),
      col("ia").as("ib"), col("sim")))
    val guardFloor = math.max(1,
      sims.sparkSession.sessionState.conf.numShufflePartitions)
    // not pinned below the guard — same verdict as [[scoreFromNbr]]'s
    // u-exchange (diag/r17/ab_pin_cf.out): AQE's 8-task coalesce of
    // this small-byte exchange looks starved but widening it only
    // inflates bandwidth-bound sort/agg CPU for no wall win
    val clustered =
      if (symRowsBound / guardFloor <= SpillGuardRowsPerTask)
        sym.repartition(col("ia"))
      else sym.repartition(
        math.min(4096L, symRowsBound / ShuffleRowsPerPartition).toInt,
        col("ia"))
    val nw = Window.partitionBy(col("ia"))
      .orderBy(col("sim").desc, col("ib").asc)
    clustered.withColumn("rn", row_number().over(nw))
      .filter(col("rn") <= topM)
      .select(col("ia").as("i"), col("ib").as("j"), col("sim"))
  }

  /** Item-CF over any (u, i) interaction frame (need not be distinct —
    * the matrix build dedups). UNORDERED like every `*On` entry point
    * — the registered q87 wrapper sorts. */
  def itemCfOn(interactions: DataFrame, cap: Int, coMin: Int,
      topM: Int, k: Int): DataFrame =
    itemCfTop(uiMatrix(interactions, cap), coMin, topM, k)

  /** q87's scoring over a PREBUILT (checkpointed) user-item matrix —
    * the composition entry q92 uses so the matrix builds once. Ordered
    * presentation form of [[itemCfTop]]. */
  def itemCfFromUi(ui: DataFrame, coMin: Int, topM: Int, k: Int)
  : DataFrame =
    itemCfTop(ui, coMin, topM, k).orderBy(col("custkey"), col("rec_rank"))

  /** The UNORDERED CF top-k — what compositions consume: a global sort
    * is presentation, not semantics, and an orderBy under q92's fusion
    * join would buy a range exchange of the whole rec frame for
    * nothing. */
  private[graft] def itemCfTop(ui: DataFrame, coMin: Int, topM: Int, k: Int)
  : DataFrame = {
    // ONE aggregate job over the checkpointed ui sizes EVERY gate: the
    // degree broadcasts inside the pair build (nItems), the
    // neighbor-table scoring join (nItems×M — counting nbr itself
    // would run the whole pair build twice), the scoring shuffle's
    // parallelism (|ui|×M candidates), AND the pair estimate
    // Σ n_u(n_u−1)/2 that [[pairsEstimate]] used to compute in its own
    // sequential job (guide §2.6: the chain is driver-latency-bound at
    // small SFs — every saved round-trip is wall time; the cross-join
    // of the two scalar aggregates is one job with two tiny
    // exchanges). n ≤ the power-user cap here (every caller hands in
    // the capped matrix), so the pair sum stays far under long range —
    // the same ANSI note as [[pairsEstimate]].
    val (uiRows, nItems, pairsEst) = {
      val stats = ui.agg(count(lit(1)), count_distinct(col("i")))
        .crossJoin(ui.groupBy(col("u")).agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(col("n") * (col("n") - lit(1))), lit(0L))
            .cast("long")))
        .first()
      (stats.getLong(0), stats.getLong(1), stats.getLong(2) / 2)
    }
    val nbr = neighborTable(ui, coMin, topM, nItems, pairsEst)
    scoreFromNbr(ui, nbr, nItems * topM, k, uiRows * topM)
  }

  /** Stage 4: score users' candidates from the neighbor table and cut
    * the per-user top-k. Score first, THEN drop owned: the (u, j)
    * aggregate and the ownership anti-join share one hash
    * partitioning, and the anti-join sorts the AGGREGATED candidate
    * set instead of the raw cap×M-per-user candidate stream (owned
    * items are ≤ cap of ≤ cap×M candidates, so the wasted partial-agg
    * work is ~5% while the shuffle+sort volume drops ~2×). Shuffle
    * anti-join, not a broadcast: the user-item matrix is corpus-sized
    * at 100 TB. */
  private[graft] def scoreFromNbr(ui: DataFrame, nbr: DataFrame,
      nbrRowBound: Long, k: Int, candEst: Long): DataFrame = {
    // Below the spill guard, hand the WHOLE scoring tail one explicit
    // exchange on u and let every later operator inherit it (guide
    // §2.4 "two operations keyed the same way share one exchange"):
    // the checkpointed matrix arrives partitioning-less (localCheckpoint
    // drops outputPartitioning), so the stock plan re-exchanged the
    // ×M-amplified candidate stream for its aggregate, exchanged ui
    // AGAIN for the ownership anti-join, and ran the top-k window as a
    // two-phase WindowGroupLimit with a third exchange. Partitioning
    // ui by u FIRST — one exchange of matrix-sized rows, planned once
    // and stage-reused by both the scoring join input and the
    // anti-join probe — satisfies the (u,j) aggregate (complete mode,
    // one pass instead of partial+final over rows the partial pass
    // measurably never dedups: 0.9% at sf0.1), the co-partitioned
    // anti-join, and the single-phase per-user window (the join
    // elision needs requireAllClusterKeysForCoPartition=false — set in
    // graft.Sessions for every session — since the join keys (u,j)
    // are a superset of the exchange key). Measured at sf0.1: the
    // scoring tail's 3 ENSURE_REQUIREMENTS exchanges (10M-row/309MB
    // candidates, ui re-exchange, window re-exchange) collapse to the
    // one 12MB u-exchange, and q93 (which also folds the cfEvalOn
    // single-groupBy change) went 20.5 → 10.4 s min-of-4 in a
    // same-window A/B (diag/r16).
    // ABOVE the guard the explicit u-exchange would be a wasted full
    // shuffle right under the cardinality-scaled (u,j) repartition, so
    // the stock gated shape is kept verbatim (same condition as
    // [[sizedByCardinality]]).
    val guardFloor = math.max(1,
      ui.sparkSession.sessionState.conf.numShufflePartitions)
    // NOT pinned to the session width: AQE byte-coalesces this 12 MiB
    // exchange to ~8 partitions, which READS as starvation (the ×M
    // candidate stream's ~40 s of task CPU on a quarter of the cores,
    // diag/r17/probe_q93_pre_pin.out stages #35/#46/#48) — but the
    // session-width pin was interleave-A/B'd this round
    // (diag/r17/ab_pin_cf.out) and does NOT move q93's wall (old
    // mins 9.4/12.6/9.9 s vs pinned 10.7/10.7/20.1 s): the tail's
    // hash aggregation is memory-bandwidth-bound on this host, so
    // extra concurrent tasks buy stall cycles, not wall (the content
    // twin measured the same 5–8× per-operator CPU inflation at
    // 32-way, diag/r17/ab_pin_cn_*.out). AQE's coalesce stays in
    // charge below the guard.
    val uiS =
      if (candEst / guardFloor <= SpillGuardRowsPerTask)
        ui.repartition(col("u"))
      else ui
    // candidate volume is EXACTLY bounded by |ui| × M — the caller
    // passes that product and the scoring shuffle is volume-gated on
    // it (StageProbe @30×: at fixed 32 partitions the candidate
    // aggregate's partial pass deduped 0.24% of 315M rows while
    // spilling 29 GiB, and the final pass held 9M keys per task,
    // spilling 27 GiB; at ~2M-row partitions both passes stay in
    // memory — while at ≤10× the stock partial-aggregate plan never
    // spilled and wins, so below the guard nothing changes)
    val sc = sizedByCardinality(
      uiS.join(dimHint(nbr, nbrRowBound,
        fixedDimBytes(nbrRowBound, 3)), "i") // items×M, gated
        .select(col("u"), col("j"), col("sim")),
      candEst, col("u"), col("j"))
      .groupBy(col("u"), col("j"))
      .agg((floor(sum(col("sim")) * 1e4 + 0.5 + 1e-9) / 1e4).as("score"))
      // shuffle-HASH anti-join (hinted): the default sort-merge plan
      // sorted BOTH sides — the aggregated candidate frame (the
      // biggest relation in the query) and the corpus ui — purely to
      // merge on (u, j). Hashing the ui side instead drops both sorts;
      // per-partition build state is ui/nPartitions, the same bound
      // any shuffle join carries. Below the guard the probe side is
      // the SAME u-partitioned exchange as the scoring input, so the
      // join is co-partitioned and exchange-free.
      .join(uiS.select(col("u"), col("i").as("j")).hint("shuffle_hash"),
        Seq("u", "j"), "left_anti") // drop already-owned
    // Volume-gated layout for the per-user top-k: at dimension-scale
    // volumes the planner's two-phase WindowGroupLimit (partial cut on
    // the (u,j) layout, exchange the survivors, final cut) wins — keep
    // it. At corpus-scale volumes that partial SORT is the spiller
    // (StageProbe @30×: 18 GiB peak, 27 GiB spilled, because a
    // 32-partition layout puts 9M rows under each sort), so cluster
    // each user's candidates explicitly at scaled parallelism and cut
    // top-k in ONE in-memory stage per ~2M-row partition.
    val clustered = sizedByCardinality(sc, candEst, col("u"))
    val rw = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("j").asc)
    clustered.withColumn("rec_rank", row_number().over(rw).cast("long"))
      .filter(col("rec_rank") <= k)
      .select(col("u").as("custkey"), col("rec_rank"),
        col("j").as("item"), col("score"))
  }

  /** CombSUM weights for the hybrid blend — powers of two, so the
    * per-term scaling is an exact mantissa shift in both engines. */
  val HybridWeightCf = 0.5
  val HybridWeightCn = 0.5

  /** q92: hybrid recommendations — weighted CombSUM rank fusion of the
    * two registered recommenders: candidates are the union of q87's
    * CF top-k and q89's content top-k per user, scored
    * [[HybridWeightCf]]·cf + [[HybridWeightCn]]·content (absent side
    * contributes 0), re-ranked (blend desc, item asc). Like q86 this
    * is a COMPOSITION query: its oracle replays both full paths and
    * joins them, so schema or semantics drift between the CF and
    * content paths fails the hash gate even if each path stays green
    * in isolation. The user-item matrix builds ONCE (checkpointed)
    * and feeds both paths; the fusion itself joins two k-per-user
    * frames — negligible on top of its inputs. With the memoized
    * artifacts ([[cfArtifact]]/[[cnArtifact]]) a session that already
    * ran q87/q89 pays ONLY the fusion: the plan is a full-outer join
    * of two ExistingRDD scans. */
  def hybridRec(s: SparkSession, d: String): DataFrame =
    fuse(cfArtifact(s, d), cnArtifact(s, d), RecK)
      .orderBy(col("custkey"), col("rec_rank"))

  /** q92 over explicit inputs (no memo) — the scale-stress/test entry.
    * Feeds the UNORDERED arm tops into the fusion: the arms' global
    * sorts are presentation-only and would otherwise range-exchange
    * both full rec frames right under the fusion join. */
  def hybridRecOn(interactions: DataFrame, p: DataFrame, cap: Int,
      coMin: Int, topM: Int, profTopF: Int, k: Int): DataFrame = {
    val ui = uiMatrix(interactions, cap)
    fuse(itemCfTop(ui, coMin, topM, k),
      contentTop(ui, p, cap, profTopF, k), k)
  }

  /** Weighted CombSUM fusion of two (custkey, rec_rank, item, score)
    * top-k frames. */
  private[graft] def fuse(cfRecs: DataFrame, cnRecs: DataFrame, k: Int)
  : DataFrame = {
    val cf = cfRecs
      .select(col("custkey"), col("item"), col("score").as("cf_score"))
    val cn = cnRecs
      .select(col("custkey"), col("item"), col("score").as("cn_score"))
    val merged = cf.join(cn, Seq("custkey", "item"), "full_outer")
      .withColumn("score", floor(
        (lit(HybridWeightCf) * coalesce(col("cf_score"), lit(0.0))
          + lit(HybridWeightCn) * coalesce(col("cn_score"), lit(0.0)))
          * 1e6 + 0.5) / 1e6)
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("score").desc, col("item").asc)
    merged.withColumn("rec_rank", row_number().over(w).cast("long"))
      .filter(col("rec_rank") <= k)
      .select(col("custkey"), col("rec_rank"), col("item"), col("score"))
  }

  // lazy: interpolates itemCfSql/contentRecSql, declared later in this
  // object — an eager val would capture null at initialization
  lazy val hybridRecSql: String =
    s"""WITH cf AS (SELECT * FROM ($itemCfSql) tcf),
       |cn AS (SELECT * FROM ($contentRecSql) tcn),
       |merged AS (
       |  SELECT coalesce(cf.custkey, cn.custkey) AS custkey,
       |    coalesce(cf.item, cn.item) AS item,
       |    floor((CAST($HybridWeightCf AS DOUBLE)
       |        * coalesce(cf.score, CAST(0 AS DOUBLE))
       |      + CAST($HybridWeightCn AS DOUBLE)
       |        * coalesce(cn.score, CAST(0 AS DOUBLE)))
       |      * 1e6 + 0.5) / 1e6 AS score
       |  FROM cf FULL OUTER JOIN cn
       |    ON cf.custkey = cn.custkey AND cf.item = cn.item)
       |SELECT custkey, rec_rank, item, score FROM (
       |  SELECT custkey, item, score,
       |    CAST(row_number() OVER (PARTITION BY custkey
       |      ORDER BY score DESC, item ASC) AS BIGINT) AS rec_rank
       |  FROM merged) r
       |WHERE rec_rank <= $RecK
       |ORDER BY custkey, rec_rank""".stripMargin

  /** Ingest-time recommendations — the streaming shape of q87: for
    * each incoming interaction (u, i[, ts]), emit item i's top
    * neighbors as ranked candidates ("customers who bought this also
    * bought"), the production event-path recommender. STATELESS by
    * construction: the neighbor table is a STATIC precomputed index
    * (the periodic batch q87 build), so the stream side is one
    * map-side broadcast join + projection — no stream state, no
    * shuffle, no watermark needed. Ownership filtering belongs where
    * user state lives (the batch job does it exactly); the event path
    * trades that for zero-state latency, the same split as
    * [[SetSimilarity.screenAgainstIndex]] vs batch q58. `incoming`
    * may be a stream or a batch frame (parity-tested). */
  def recsForInteractions(incoming: DataFrame, nbr: DataFrame)
  : DataFrame = {
    val extra = incoming.columns.filter(c => c != "u" && c != "i")
      .map(col).toSeq
    incoming
      .join(broadcast(nbr), "i")
      .select(Seq(col("u"), col("i"),
        col("j").as("rec_item"), col("sim")) ++ extra: _*)
  }

  /** Stopword-feature cap: features present in more than 1/10 of the
    * catalog are dropped — a high-df feature partitions the catalog
    * into huge buckets and carries almost no preference signal, and df
    * is the fanout term of everything downstream. Expressed as the
    * integer test `df*10 <= N*1` so both engines evaluate it exactly.
    * Bites at every SF: the catalog-sixth `type:` features (df = N/6)
    * are dropped everywhere, `name:`/`brand:` (df ≈ N/49, N/25) stay. */
  val FeatDfNum = 1
  val FeatDfDen = 10
  /** Features kept per user profile (by weight desc, feature asc) —
    * truncated-profile cosine, the standard content-based move that
    * bounds the scoring fanout independently of how many items a user
    * owns. */
  val ProfileTopF = 32

  /** q89: top-[[RecK]] content-based recommendations per customer —
    * the OTHER recommender the reference's Assignment3 materials
    * describe (`Assignment3/description(2).pdf` §4.2: item content
    * profiles + user profiles aggregated from owned items, cosine
    * scoring), complementing q87's collaborative filter. Item content
    * here is the part catalog's own attributes: name, brand, type.
    *
    * Scale shape — the load-bearing move is scoring per ITEM-PROFILE
    * EQUIVALENCE CLASS, not per item. Every feature in a dense catalog
    * has df = Θ(N), so per-item scoring is O(users × N) however it is
    * joined (a first cut of this query cost 325 s at sf0.1, 5× the
    * whole rest of the bench). Items with the same kept-feature set
    * score identically, and the number of DISTINCT feature sets is
    * vocabulary-bounded — independent of catalog size — so:
    * profile ⋈ class-features ⋈ class scoring is O(users × classes),
    * constant in N. The exact per-item top-k is then recovered from
    * two provably sufficient [[UserItemCap]]+k caps: per class only
    * the (cap+k) smallest item ids can ever surface (any later item
    * has ≥ k unowned same-score predecessors in its own class), and
    * per user only the top (cap+k) classes by (score desc, min-item
    * asc) can contribute (every class ranked above a contributing one
    * either yields an earlier item or contains ≥1 of the ≤cap owned
    * items). Both class tables live behind O(k) typed aggregates
    * ([[graft.functions.BoundedMinK]]), never a class-sized window.
    * un² and the dot are exact integer sums (order-independent — no
    * ulp slack), one √ of a sub-2^53 product, floored to 6 dp. */
  def contentRec(s: SparkSession, d: String): DataFrame =
    cnArtifact(s, d).orderBy(col("custkey"), col("rec_rank"))

  /** Content-based rec over any (u, i) interaction frame and any
    * catalog frame with (p_partkey, p_name, p_brand, p_type).
    * UNORDERED like every `*On` entry point — the registered q89
    * wrapper sorts. */
  def contentRecOn(interactions: DataFrame, p: DataFrame, cap: Int,
      profTopF: Int, k: Int): DataFrame =
    contentTop(uiMatrix(interactions, cap), p, cap, profTopF, k)

  /** q89's scoring over a PREBUILT (checkpointed) user-item matrix —
    * the composition entry q92 uses so the matrix builds once. `cap`
    * still sizes the class item lists (cap+k). */
  /** The df-capped item-feature pairs for a catalog frame (whole
    * name + brand + type features, stopword-df cap applied) — the
    * shared subtree of the class build and the profile build, also
    * measured directly by the scale stress (graft.ScaleStress). */
  private[graft] def contentFeats(p: DataFrame): DataFrame = {
    val feats0 = p.select(col("p_partkey").as("i"),
        concat(lit("name:"), col("p_name")).as("f"))
      .unionByName(p.select(col("p_partkey").as("i"),
        concat(lit("type:"), col("p_type")).as("f")))
      .unionByName(p.select(col("p_partkey").as("i"),
        concat(lit("brand:"), col("p_brand")).as("f")))
    val nParts = p.select(count(lit(1)).as("n"))
    // the feature-df table is VOCABULARY-sized but its vocabulary is
    // data-dependent (near-unique `name:` features make it approach
    // 3× the catalog) — checkpoint it (narrow, one pass) and gate the
    // join on measured rows AND bytes instead of broadcasting
    // unconditionally: past the gate the df lookup rides shuffle-hash
    // on the catalog-sized feats0 stream, correct at any vocabulary.
    // kept: 2 readers, the gate's measure job + the join
    val dfTab = feats0.groupBy(col("f")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val (dfRows, dfBytes) = measuredDim(dfTab, "octet_length(f) + 24")
    feats0
      .join(dimHint(dfTab, dfRows, dfBytes), "f")
      .crossJoin(broadcast(nParts)) // one row, unconditionally tiny
      .filter(col("df") * FeatDfDen <= col("n") * FeatDfNum)
      .select(col("i"), col("f"))
  }

  /** Item → canonical sorted feature-set key ("class") — the
    * VOCABULARY-bounded equivalence classes q89 scores per. */
  private[graft] def itemClasses(feats: DataFrame): DataFrame =
    feats.groupBy(col("i"))
      .agg(concat_ws("|", sort_array(collect_list(col("f")))).as("ck"))

  /** The vocabulary-bounded class index the per-user scorer reads:
    * feature → classes containing it, and per class its feature count
    * plus the (cap+k) smallest item ids (ascending — items(c)(0) is
    * the class's min item). Driver-built and broadcast: EXACTLY the
    * frames the previous plan shipped as three `broadcast(...)` join
    * sides (classFeats/nfc/classItems), so the driver/executor
    * footprint is unchanged — only the join mechanics moved into one
    * aggregate. */
  private[graft] case class ClassIndex(
      fToClasses: Map[String, Array[Int]],
      nf: Array[Long],
      items: Array[Array[Long]])

  /** Per-USER content scorer — one bounded typed aggregate replacing
    * the users×classes shuffle chain (VERDICT r9 item 2: q89/q92 10×
    * time ratios 6.8×/7.3× vs 2-3× siblings). The old plan aggregated
    * (u, ck) dots (users × ~all-classes rows), joined un² back on u,
    * and ranked TWO users×classes windows; at 10× users those three
    * corpus-scale exchanges+sorts were the growing constant. A user's
    * whole scoring problem is bounded — ≤[[ProfileTopF]] profile rows,
    * vocabulary-many candidate classes, (cap+k) emitted candidates —
    * so it fits in one aggregation buffer: reduce keeps the top-F
    * profile (w desc, f asc — the former window's exact order), finish
    * computes un², the per-class integer dots, the 6-dp floored scores,
    * the (score desc, min-item asc) class cut and the (score desc,
    * item asc) candidate cut, all arithmetic verbatim from the old
    * column expressions, so the DuckDB oracle is unchanged. Shuffle
    * volume drops from users×classes to users×3·cap profile rows. */
  private[graft] final class ContentScoreAgg(
      idx: org.apache.spark.broadcast.Broadcast[ClassIndex],
      topF: Int, capK: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      (String, Long), Seq[(String, Long)], Array[(Long, Double)]] {

    private def ord: Ordering[(String, Long)] =
      Ordering.by { case (f, w) => (-w, f) }

    def zero: Seq[(String, Long)] = Seq.empty
    /** Bounded insertion into the (always-sorted) buffer — the
      * per-input-row hot path (VERDICT r10 item 4: the previous
      * `(b :+ x).sorted.take(topF)` re-sorted per row). The buffer
      * stays EXACTLY what the stable sort-then-take produced: a full
      * buffer whose cutoff ranks ≤ x rejects x outright (stable sort
      * would place the appended x after its equals and cut it), else
      * x lands after every element ranked ≤ it. */
    def reduce(b: Seq[(String, Long)], x: (String, Long)): Seq[(String, Long)] = {
      if (b.length >= topF && ord.lteq(b.last, x)) b
      else {
        val i = b.indexWhere(e => ord.gt(e, x))
        val ins =
          if (i < 0) b :+ x
          else (b.take(i) :+ x) ++ b.drop(i)
        if (ins.length > topF) ins.take(topF) else ins
      }
    }
    /** Partition-boundary merges are rare — a sort of 2·topF rows is
      * fine here; only reduce is per-row. */
    def merge(a: Seq[(String, Long)], b: Seq[(String, Long)]): Seq[(String, Long)] =
      (a ++ b).sorted(ord).take(topF)

    /** Per-task scratch state for [[finish]] — measured before the
      * rewrite (StageProbe cn @sf0.1): the boxed HashMap dot
      * accumulation plus two full tuple sorts per user cost ~21 ms ×
      * 14k users = 309 s of task CPU in ONE stage, 10× everything
      * else in the build combined. A profile feature touches every
      * class containing it (~hundreds for a kept `name:` feature), so
      * per-user work is Σ_f |classes(f)| ≈ 25k ops — primitive array
      * accumulation and one primitive long-key sort take those ops
      * from ~100 ns (hash+box+resize) to ~2 ns each. ThreadLocal:
      * ScalaAggregator instances are shared across a local session's
      * task threads. */
    @transient private lazy val scratch =
      new ThreadLocal[(Array[Long], Array[Long])]()
    /** Class → rank of its min item (and the inverse), so the
      * (score desc, min-item asc) class cut can ride ONE primitive
      * long sort: min items are unique per class (classes partition
      * the catalog), so (1e6−s6)·2³² + rank orders exactly like
      * (score desc, min-item asc). Built once per JVM from the
      * broadcast index. */
    @transient private lazy val minItemRank: (Array[Int], Array[Int]) = {
      val ix = idx.value
      val order = ix.items.indices.sortBy(c => ix.items(c)(0)).toArray
      val rank = new Array[Int](order.length)
      var r = 0
      while (r < order.length) { rank(order(r)) = r; r += 1 }
      (rank, order)
    }

    def finish(pf: Seq[(String, Long)]): Array[(Long, Double)] = {
      val ix = idx.value
      val nClasses = ix.nf.length
      var un2 = 0L
      pf.foreach { case (_, w) => un2 += w * w }
      // integer dot per touched class (profile ∩ class features):
      // primitive accumulator + touched list (w ≥ 1, so dot == 0 ⟺
      // untouched and the touched entries are zeroed back after use)
      var st = scratch.get()
      if (st == null || st._1.length < nClasses) {
        st = (new Array[Long](nClasses), new Array[Long](nClasses))
        scratch.set(st)
      }
      val (dots, keys) = st
      var nTouched = 0
      pf.foreach { case (f, w) =>
        val cs = ix.fToClasses.getOrElse(f, Array.emptyIntArray)
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          if (dots(c) == 0L) { keys(nTouched) = c; nTouched += 1 }
          dots(c) += w
          i += 1
        }
      }
      if (nTouched == 0) return Array.empty
      // score = floor(dot / √(un²·nf) · 1e6 + 0.5) / 1e6 — the long
      // norm product and single √/÷ exactly as the old column expr;
      // s6 (the pre-/1e6 integer, ≤ 1e6 by Cauchy–Schwarz) rides the
      // sort key's high bits, the min-item rank its low 32
      val (rankOf, classOfRank) = minItemRank
      var i = 0
      while (i < nTouched) {
        val c = keys(i).toInt
        val s6 = math.floor(dots(c).toDouble /
          math.sqrt((un2 * ix.nf(c)).toDouble) * 1e6 + 0.5).toLong
        dots(c) = 0L // reset for the next user
        keys(i) = ((1000001L - s6) << 32) | rankOf(c).toLong
        i += 1
      }
      // top (cap+k) classes by (score desc, min-item asc): every class
      // above a contributing one either yields an earlier item or
      // holds one of the user's ≤cap owned items — same cut proof as
      // the old cw window
      java.util.Arrays.sort(keys, 0, nTouched)
      val nKept = math.min(capK, nTouched)
      // explode each kept class's (cap+k) smallest items, rank
      // (score desc, item asc), keep (cap+k) — the old iw window
      val cands = new scala.collection.mutable.ArrayBuffer[(Long, Double)]
      i = 0
      while (i < nKept) {
        val key = keys(i)
        val c = classOfRank((key & 0xffffffffL).toInt)
        val s = (1000001L - (key >>> 32)) / 1e6
        ix.items(c).foreach(it => cands += ((it, s)))
        i += 1
      }
      cands.sortBy { case (it, s) => (-s, it) }.take(capK).toArray
    }

    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(String, Long)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[(Long, Double)]]()
  }

  /** Ordered presentation form of [[contentTop]]. */
  def contentRecFromUi(ui: DataFrame, p: DataFrame, cap: Int,
      profTopF: Int, k: Int): DataFrame =
    contentTop(ui, p, cap, profTopF, k)
      .orderBy(col("custkey"), col("rec_rank"))

  /** The UNORDERED content top-k (see [[itemCfTop]] for why
    * compositions consume the unsorted form). */
  private[graft] def contentTop(ui: DataFrame, p: DataFrame, cap: Int,
      profTopF: Int, k: Int): DataFrame =
    contentTop(ui, p, cap, profTopF, k, idxEst = None)

  /** `idxEst`: test-injected (rows, bytes) override for the class-
    * index gate measure (the `LshEst`-injection pattern) — production
    * callers use the 5-arg form, which measures the real frames. */
  private[graft] def contentTop(ui: DataFrame, p: DataFrame, cap: Int,
      profTopF: Int, k: Int, idxEst: Option[(Long, Long)]): DataFrame = {
    // item-feature pairs: whole name + brand + type, then the df cap.
    // catalog-sized (≤3 rows/item); kept: 2 readers (class build,
    // profile build), no shared shuffle under them.
    val feats = contentFeats(p).localCheckpoint()
    // ---- item-profile equivalence classes: the canonical sorted
    // feature set. Everything class-keyed from here is VOCABULARY-
    // bounded (distinct feature combinations), not catalog-sized.
    //
    // ONE class table replaces the old three-frame build (itemClass
    // cp → feats⋈itemClass + distinct → classFeats cp; itemClass
    // groupBy(ck) → classItems cp): ck IS the sorted feature list, so
    // carrying the list (`fs`) through the class aggregate yields the
    // class's features and their count for free — the catalog-sized
    // re-join, its distinct, the second vocabulary exchange and two of
    // the three checkpoint materializations all disappear (guide §2.4
    // / §1.2 step 1; this build is the rec_cn artifact, the largest
    // unoptimized computation of r16 — VERDICT item 2). Exactly like
    // the old ck-keyed frames, class identity rides the joined string
    // (features never contain '|': they are 'name:'/'brand:'/'type:'
    // over catalog text, and a pathological collision would have
    // merged classes in the old build identically).
    //
    // per class, only the (cap+k) smallest item ids can ever reach a
    // user's top-k: any later item has ≥ k unowned same-score
    // predecessors in its own class (a user owns ≤ cap items). O(k)
    // typed aggregate — never a class-sized window or collect_list.
    val minKItems = udaf(new graft.functions.BoundedMinK(cap + k))
    val classTab = feats
      .groupBy(col("i"))
      .agg(sort_array(collect_list(col("f"))).as("fs"))
      .select(col("i"), col("fs"), concat_ws("|", col("fs")).as("ck"))
      .groupBy(col("ck"))
      .agg(minKItems(col("i")).as("items"), first(col("fs")).as("fs"))
      .localCheckpoint() // kept: 2 readers, the gate measure job + a branch
    // ---- class-index gate (count AND measured bytes, the same double
    // bound as `dimHint`/the LSH lookups): the index rows carry
    // data-dependent payloads — feature strings and (cap+k)-item
    // arrays — so a vocabulary whose CLASS count passes any row bound
    // can still be gigabytes wide. ONE aggregate job over the
    // checkpointed class table reproduces the old two frames' numbers
    // exactly: classFeats rows = Σ size(fs); classFeats bytes summed
    // per class = size·(len(ck)+24) + Σ len(f), where Σ len(f) =
    // len(ck) − (size−1) by construction of ck; classItems rows =
    // classes, bytes as before. Past either bound the driver
    // collect+broadcast below must not happen (it would OOM the driver
    // long before the executor broadcast failed). The independent
    // feats measure (the profile join's gate) runs CONCURRENTLY —
    // guide §2.6: both are one-aggregate local scans of checkpointed
    // frames, and sequential scheduling would serialize two driver
    // round-trips for nothing.
    val (featsMeasure, idxMeasure) =
      if (idxEst.isDefined)
        (() => measuredDim(feats, "octet_length(f) + 24"),
          () => idxEst.get)
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.global
        val fFeat =
          Future(measuredDim(feats, "octet_length(f) + 24"))
        val fIdx = Future {
          val r = classTab.agg(count(lit(1)).cast("long"),
            coalesce(sum(size(col("fs"))), lit(0)).cast("long"),
            coalesce(sum(
              expr("size(fs) * (octet_length(ck) + 24) + " +
                "(octet_length(ck) - size(fs) + 1)") +
                expr("octet_length(ck) + 8 * size(items) + 48")),
              lit(0)).cast("long")).first()
          (r.getLong(0) + r.getLong(1), r.getLong(2))
        }
        (() => Await.result(fFeat, 10.minutes),
          () => Await.result(fIdx, 10.minutes))
      }
    val (idxRows, idxBytes) = idxMeasure()
    // user profile rows: weight = #owned items carrying the feature —
    // read by BOTH branches. feats is ≤3 rows/item and checkpointed,
    // so its measure is a cheap local scan for the size gate.
    val (featRows, featBytes) = featsMeasure()
    // ---- ONE explicit u-exchange for the whole per-user tail (the
    // scoreFromNbr move, guide §2.4): hash(u) is a subset of every
    // later key — the (u,f) profile aggregate, the per-user scorer,
    // the (u,cand) ownership anti-join's probe side and the top-k
    // window all inherit it (requireAllClusterKeysForCoPartition=
    // false), replacing the stock plan's (u,f) exchange, (u) exchange
    // and the anti-join's BOTH-side sort-merge exchanges. The
    // exchange also ships ui itself (13 MiB) instead of the old
    // plan's 2×-fanned-out (u,f) join output (45 MiB) — the join
    // against the feats dimension happens after, partitioning
    // preserved. No explicit partition count: AQE's runtime coalesce
    // sizes the tail like every other shuffle here. An explicit
    // session-width pin was tried TWICE (r17 main session, and this
    // round's interleaved A/B, diag/r17/ab_pin_cn.out) and reverted
    // both times: the same plan over the same rows inflates every
    // aggregate's executorCpuTime 5–8× at 32-way concurrency (e.g.
    // the profile HashAggregate 1.9 s → 16.2 s, the typed scorer
    // ObjectHashAggregate 4.7 s → 32.9 s) — hash-heavy random access
    // is memory-bandwidth-bound on this host, so the extra tasks buy
    // stall cycles, not wall (20.0 s vs 3.5 s probe regions). AQE's
    // byte-based coalesce is the right regime here; a cardinality
    // clamp only matters past the spill guard, where
    // [[sizedByCardinality]]'s regime already governs the CF twin of
    // this tail.
    val uiS = ui.repartition(col("u"))
    val prof0 = uiS.join(dimHint(feats, featRows, featBytes), "i")
      .groupBy(col("u"), col("f")).agg(count(lit(1)).as("w"))
    val scored =
      if (idxRows <= BroadcastDimRows && idxBytes <= DimBroadcastBytes)
        contentScoreBroadcast(prof0, classTab, profTopF, cap + k)
      else
        contentScoreShuffle(prof0, classTab, profTopF, cap + k)
    // shuffle-HASH anti-join on the co-partitioned uiS (exchange-free
    // on both sides: scored inherits hash(u) through the aggregates,
    // uiS IS the same exchange, stage-reused) — the unhinted plan
    // sort-merged it, sorting both the exploded candidate stream and
    // a SECOND ui exchange purely to merge on (u, cand).
    val cand = scored
      .join(uiS.select(col("u"), col("i").as("cand"))
        .hint("shuffle_hash"),
        Seq("u", "cand"), "left_anti") // drop already-owned
    val rw = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("cand").asc)
    cand.withColumn("rec_rank", row_number().over(rw).cast("long"))
      .filter(col("rec_rank") <= k)
      .select(col("u").as("custkey"), col("rec_rank"),
        col("cand").as("item"), col("score"))
  }

  /** The in-gate scoring branch: the vocabulary frames are collected
    * into a [[ClassIndex]] (both are EXACTLY the tables the pre-r9
    * plan broadcast — same bytes, now indexed), re-broadcast, and the
    * whole per-user scoring problem runs inside ONE bounded typed
    * aggregate over the ≤3·cap profile rows per user. Emits
    * (u, cand, score): each user's top (cap+k) candidates. */
  private def contentScoreBroadcast(prof0: DataFrame,
      classTab: DataFrame, profTopF: Int,
      capK: Int): DataFrame = {
    // ONE collect of the class table replaces the old separate
    // classFeats+classItems collects — same bytes (the feature pairs
    // are the exploded fs), one driver round-trip.
    val index = {
      val rows = classTab
        .select(col("ck"), col("items"), col("fs")).collect()
        .map(r => (r.getString(0), r.getSeq[Long](1).toArray,
          r.getSeq[String](2).toArray))
        .sortBy(_._1) // the old index's ck order, for determinism
      val ckIdx = rows.iterator.map(_._1).zipWithIndex.toMap
      val fToClasses = scala.collection.mutable.Map[String,
        scala.collection.mutable.ArrayBuffer[Int]]()
      rows.foreach { case (ck, _, fs) =>
        val c = ckIdx(ck)
        fs.foreach { f =>
          fToClasses.getOrElseUpdate(f,
            new scala.collection.mutable.ArrayBuffer[Int]) += c
        }
      }
      ClassIndex(
        fToClasses.iterator
          .map { case (f, cs) => f -> cs.sorted.toArray }.toMap,
        rows.map(_._3.length.toLong),
        rows.map(_._2))
    }
    val bcIdx = prof0.sparkSession.sparkContext.broadcast(index)
    val scoreAgg = udaf(new ContentScoreAgg(bcIdx, profTopF, capK))
    prof0.groupBy(col("u"))
      .agg(scoreAgg(col("f"), col("w")).as("cands"))
      .select(col("u"), explode(col("cands")).as("c"))
      .select(col("u"), col("c._1").as("cand"), col("c._2").as("score"))
  }

  /** The past-gate scoring branch: the users×classes shuffle chain —
    * every [[ContentScoreAgg]] step as relational operators, each
    * arithmetic expression verbatim, so the two branches agree
    * bit-for-bit (RecommendSpec pins both plans and their equality).
    * Slower than the broadcast aggregate (three corpus-scale
    * exchanges — the r9 measurement that motivated the index), but
    * correct at ANY vocabulary: nothing class-keyed ever touches the
    * driver, the ck joins ride shuffle-hash, and every window
    * partitions on a single user's bounded candidate set. */
  private def contentScoreShuffle(prof0: DataFrame,
      classTab: DataFrame, profTopF: Int,
      capK: Int): DataFrame = {
    // the old branch inputs, now cheap projections off the ONE
    // checkpointed class table: the feature pairs are the exploded
    // fs, the per-class feature count is size(fs) (cast to the long
    // the old count(*) produced — identical score arithmetic), and
    // the item lists ride as-is.
    val classFeats = classTab.select(col("ck"), explode(col("fs")).as("f"))
    val classItems = classTab.select(col("ck"), col("items"))
    val nfc = classTab.select(col("ck"),
      size(col("fs")).cast("long").as("nf"))
    // the reduce/merge top-F profile cut: (w desc, f asc), F unique
    // per user since prof0 is grouped on (u, f)
    val pw = Window.partitionBy(col("u"))
      .orderBy(col("w").desc, col("f").asc)
    val prof = prof0.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= profTopF).drop("pr")
    // un² = Σw² over the KEPT profile (finish() computes it on the
    // reduced buffer)
    val un2 = prof.groupBy(col("u")).agg(sum(col("w") * col("w")).as("un2"))
    // integer dot per touched class: profile ∩ class features
    val dots = prof.join(classFeats.hint("shuffle_hash"), "f")
      .groupBy(col("u"), col("ck")).agg(sum(col("w")).as("dot"))
    // score = floor(dot / √(un²·nf) · 1e6 + 0.5) / 1e6 — long norm
    // product, single √/÷, exactly the finish() expression
    val scored = dots
      .join(nfc.hint("shuffle_hash"), "ck")
      .join(un2, "u")
      .join(classItems.hint("shuffle_hash"), "ck")
      .withColumn("score", floor(col("dot").cast("double") /
        sqrt((col("un2") * col("nf")).cast("double")) * 1e6 + 0.5) / 1e6)
      .withColumn("min_item", element_at(col("items"), 1))
    // top capK classes per user by (score desc, min-item asc) — the
    // classScores cut; min-item is unique per class (items partition
    // the catalog), so the order is total
    val cw = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("min_item").asc)
    val kept = scored.withColumn("cr", row_number().over(cw))
      .filter(col("cr") <= capK)
    // explode each kept class's (cap+k) smallest items, rank
    // (score desc, item asc), keep capK — the candidate cut
    val iw = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("cand").asc)
    kept.select(col("u"), col("score"), explode(col("items")).as("cand"))
      .withColumn("ir", row_number().over(iw))
      .filter(col("ir") <= capK)
      .select(col("u"), col("cand"), col("score"))
  }

  val contentRecSql: String =
    s"""WITH ui0 AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
       |             FROM lineitem
       |             JOIN orders ON l_orderkey = o_orderkey),
       |ku AS (SELECT u FROM ui0 GROUP BY u
       |       HAVING count(*) <= $UserItemCap),
       |ui AS (SELECT ui0.u, ui0.i FROM ui0 JOIN ku ON ku.u = ui0.u),
       |np AS (SELECT count(*) AS n FROM part),
       |f0 AS (
       |  SELECT p_partkey AS i, 'name:' || p_name AS f FROM part
       |  UNION ALL SELECT p_partkey, 'type:' || p_type FROM part
       |  UNION ALL SELECT p_partkey, 'brand:' || p_brand FROM part),
       |dft AS (SELECT f, count(*) AS df FROM f0 GROUP BY 1),
       |feats AS (SELECT f0.i, f0.f FROM f0
       |          JOIN dft ON dft.f = f0.f, np
       |          WHERE dft.df * $FeatDfDen <= np.n * $FeatDfNum),
       |nf AS (SELECT i, count(*) AS nf FROM feats GROUP BY 1),
       |prof0 AS (SELECT u, f, count(*) AS w
       |          FROM ui JOIN feats ON feats.i = ui.i GROUP BY 1, 2),
       |prof AS (SELECT u, f, w FROM (
       |    SELECT u, f, w, row_number() OVER (PARTITION BY u
       |      ORDER BY w DESC, f ASC) AS rn FROM prof0) t
       |  WHERE rn <= $ProfileTopF),
       |un2 AS (SELECT u, CAST(sum(w * w) AS BIGINT) AS un2
       |        FROM prof GROUP BY 1),
       |dot AS (SELECT prof.u, feats.i AS cand,
       |          CAST(sum(prof.w) AS BIGINT) AS dot
       |        FROM prof JOIN feats ON feats.f = prof.f
       |        GROUP BY 1, 2),
       |sc AS (SELECT dot.u, dot.cand,
       |         floor(CAST(dot.dot AS DOUBLE) /
       |           sqrt(CAST(un2.un2 * nf.nf AS DOUBLE)) * 1e6 + 0.5)
       |           / 1e6 AS score
       |       FROM dot
       |       JOIN nf ON nf.i = dot.cand
       |       JOIN un2 ON un2.u = dot.u
       |       WHERE NOT EXISTS (SELECT 1 FROM ui o
       |                         WHERE o.u = dot.u AND o.i = dot.cand))
       |SELECT custkey, rec_rank, item, score FROM (
       |  SELECT u AS custkey, cand AS item, score,
       |    CAST(row_number() OVER (PARTITION BY u
       |      ORDER BY score DESC, cand ASC) AS BIGINT) AS rec_rank
       |  FROM sc) r
       |WHERE rec_rank <= $RecK
       |ORDER BY custkey, rec_rank""".stripMargin

  /** The raw distinct user-item matrix CTE body (pre-cap) — shared by
    * q87's oracle and q93's held-out variant. */
  private val rawUiSql: String =
    """SELECT DISTINCT o_custkey AS u, l_partkey AS i
      |             FROM lineitem
      |             JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** The CF scoring chain AFTER the `ui0` CTE (cap → degrees → pairs →
    * cosine → neighbor top-M → candidates → scores → ranked top-k,
    * ending in an unordered `recs` CTE) — q87 selects from it ordered,
    * q93 aggregates hits against the holdout. Any change to CF
    * semantics edits ONE string, and the eval oracle follows. */
  private val itemCfChainSql: String =
    s"""ku AS (SELECT u FROM ui0 GROUP BY u
       |       HAVING count(*) <= $UserItemCap),
       |ui AS (SELECT ui0.u, ui0.i FROM ui0 JOIN ku ON ku.u = ui0.u),
       |ideg AS (SELECT i, count(*) AS deg FROM ui GROUP BY 1),
       |pr AS (SELECT a.i AS ia, b.i AS ib, count(*) AS c
       |       FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
       |       GROUP BY 1, 2 HAVING count(*) >= $CoMinUsers),
       |sims AS (SELECT ia, ib,
       |    floor(CAST(c AS DOUBLE) /
       |      sqrt(CAST(da.deg AS DOUBLE) * db.deg) * 1e6 + 0.5) / 1e6
       |      AS sim
       |  FROM pr
       |  JOIN ideg da ON da.i = pr.ia
       |  JOIN ideg db ON db.i = pr.ib),
       |sym AS (SELECT ia, ib, sim FROM sims
       |        UNION ALL SELECT ib, ia, sim FROM sims),
       |nbr AS (SELECT ia AS i, ib AS j, sim FROM (
       |    SELECT ia, ib, sim,
       |      row_number() OVER (PARTITION BY ia
       |        ORDER BY sim DESC, ib ASC) AS rn
       |    FROM sym) t
       |  WHERE rn <= $NeighborTopM),
       |cand AS (SELECT ui.u, nbr.j, nbr.sim
       |         FROM ui JOIN nbr ON nbr.i = ui.i
       |         WHERE NOT EXISTS (SELECT 1 FROM ui o
       |                           WHERE o.u = ui.u AND o.i = nbr.j)),
       |sc AS (SELECT u, j AS item,
       |         floor(sum(sim) * 1e4 + 0.5 + 1e-9) / 1e4 AS score
       |       FROM cand GROUP BY 1, 2),
       |recs AS (SELECT custkey, rec_rank, item, score FROM (
       |    SELECT u AS custkey, item, score,
       |      CAST(row_number() OVER (PARTITION BY u
       |        ORDER BY score DESC, item ASC) AS BIGINT) AS rec_rank
       |    FROM sc) r
       |  WHERE rec_rank <= $RecK)""".stripMargin

  val itemCfSql: String =
    s"""WITH ui0 AS ($rawUiSql),
       |$itemCfChainSql
       |SELECT custkey, rec_rank, item, score FROM recs
       |ORDER BY custkey, rec_rank""".stripMargin

  /** Users need ≥ this many distinct items to enter the q93 holdout
    * (a 1-item user would have an empty training history). */
  val EvalMinOwned = 2

  /** q93: offline recommender evaluation — deterministic leave-one-out
    * hit-rate@k for the CF path: each qualifying user's max-id item is
    * held out, CF trains on the remainder (same caps as q87), and the
    * query reports how often the held-out item lands in the user's
    * top-[[RecK]]. The standard offline eval every recommender stack
    * runs before an online test; deterministic holdout (max item id)
    * keeps both engines bit-identical where a random split could not
    * be replayed. One summary row: n_eval, n_hit, hit_rate (4 dp).
    * Scale: the holdout is one aggregate over the corpus-sized matrix;
    * everything else is exactly q87's plan on the train slice. */
  def cfEval(s: SparkSession, d: String): DataFrame =
    cfEvalOn(copurchases(s, d),
      UserItemCap, CoMinUsers, NeighborTopM, RecK)

  def cfEvalOn(interactions: DataFrame, cap: Int, coMin: Int,
      topM: Int, k: Int): DataFrame = {
    val all = interactions.select(col("u"), col("i")).distinct()
      .localCheckpoint() // kept: 2 readers, the holdout agg job + train
    // ONE corpus-sized groupBy(u) serves the holdout AND the
    // power-user cap (guide §2.4): the train slice removes exactly one
    // row per holdout user, so the q87-equivalent kept-user set —
    // users with ≤ cap TRAIN items — is a filter over this
    // dimension-sized table (n − 1 when a row was held out, n
    // otherwise) instead of uiMatrix's re-aggregation of the
    // corpus-sized train slice; and train is distinct by construction
    // (a subset of the distinct matrix), so uiMatrix's dedup pass is
    // skipped too. Same matrix, two corpus passes fewer.
    val hs = all.groupBy(col("u"))
      .agg(max(col("i")).as("held"), count(lit(1)).as("n"))
      .localCheckpoint() // kept: 4 readers, train, hits, n_eval, kept set
    val hold = hs.filter(col("n") >= EvalMinOwned)
      .select(col("u"), col("held"))
    val train = all.join(
      hold.select(col("u"), col("held").as("i")), Seq("u", "i"),
      "left_anti")
    val kept = hs.filter(
      when(col("n") >= EvalMinOwned, col("n") - 1).otherwise(col("n"))
        <= cap).select(col("u"))
    // kept: 5+ readers, as in [[uiMatrix]]
    val ui = train.join(kept, Seq("u"), "left_semi").localCheckpoint()
    // unordered top: recs only feeds the hit join — no presentation sort
    val recs = itemCfTop(ui, coMin, topM, k)
    val hits = recs.join(hold,
        recs("custkey") === hold("u") && recs("item") === hold("held"))
      .agg(count(lit(1)).as("n_hit"))
    hold.agg(count(lit(1)).as("n_eval")).crossJoin(hits)
      .withColumn("hit_rate", floor(col("n_hit").cast("double") /
        col("n_eval") * 1e4 + 0.5) / 1e4)
      .select(col("n_eval"), col("n_hit"), col("hit_rate"))
  }

  lazy val cfEvalSql: String =
    s"""WITH all0 AS ($rawUiSql),
       |hold AS (SELECT u, max(i) AS held FROM all0 GROUP BY u
       |         HAVING count(*) >= $EvalMinOwned),
       |ui0 AS (SELECT a.u, a.i FROM all0 a
       |        LEFT JOIN hold h ON h.u = a.u AND h.held = a.i
       |        WHERE h.u IS NULL),
       |$itemCfChainSql
       |SELECT (SELECT count(*) FROM hold) AS n_eval,
       |  count(*) AS n_hit,
       |  floor(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM hold)
       |    * 1e4 + 0.5) / 1e4 AS hit_rate
       |FROM recs JOIN hold
       |  ON hold.u = recs.custkey AND hold.held = recs.item""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_item_cf" -> (itemCf _),
    "q89_content_rec" -> (contentRec _),
    "q92_hybrid_rec" -> (hybridRec _),
    "q93_cf_eval" -> (cfEval _))

  val oracle: Map[String, String] = Map(
    "q87_item_cf" -> itemCfSql,
    "q89_content_rec" -> contentRecSql,
    "q92_hybrid_rec" -> hybridRecSql,
    "q93_cf_eval" -> cfEvalSql)
}
