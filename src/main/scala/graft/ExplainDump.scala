package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prints `explain("formatted")` of representative queries in PLANS.md
  * format — the plan-shape evidence (pushdown, broadcast joins,
  * whole-stage codegen spans, partial aggregation) referenced from the
  * README. Every frame is built exactly as Verify and Bench build it:
  * gate estimates, eager checkpoints and driver collects all run, so
  * each dump is the plan the query executes on the given data.
  *
  * Usage: `tools/run_java.sh graft.ExplainDump <sfDir> [id,id,...]` —
  * the named ids (default: [[picks]]) to stdout; Spark's log goes to
  * stderr. PLANS.md is the default roster at sf0.01. */
object ExplainDump {
  import graft.graph.Graphs

  /** Build the frame for a dumpable id — the registered query, or one
    * of the `_`-prefixed synthetic dumps: memo-free recommender
    * builds, the unsorted *On entry and the edge build (inside the
    * registered queries those sit behind checkpoint scans, so their
    * plans are otherwise invisible). Every case calls
    * the production definitions, never an inline rebuild that could
    * drift from them. */
  private[graft] def frameFor(name: String,
      spark: SparkSession, sfDir: String): DataFrame = {
    import graft.mining.Recommend
    name match {
      // the memo-free recommender builds — the registered entries
      // read memoized artifacts, which hides the build plan
      case "_cf_build" => Recommend.itemCfOn(
        Recommend.copurchases(spark, sfDir), Recommend.UserItemCap,
        Recommend.CoMinUsers, Recommend.NeighborTopM, Recommend.RecK)
      case "_content_build" => Recommend.contentRecOn(
        Recommend.copurchases(spark, sfDir),
        Tables.part(spark, sfDir), Recommend.UserItemCap,
        Recommend.ProfileTopF, Recommend.RecK)
      case "_q68_on_unsorted" => graft.ops.Pipeline.qualitySampleOn(
        Tables.documents(spark, sfDir))
      // the un-checkpointed co-purchase edge subtree
      case "_edge_build" => Graphs.capBySourceDf(
        Graphs.custParts(spark, sfDir, None), Graphs.MaxSourceDf)
      case _ => SparkEntry.queries(name)(spark, sfDir)
    }
  }

  /** The default (id, note) roster — PLANS.md. Operators that iterate
    * to a data-dependent fixpoint (CC, Lloyd, GN) are absent: their
    * dump would be one checkpoint scan of the converged result. */
  private[graft] val picks: Seq[(String, String)] = Seq(
    ("q01_pricing_summary",
      "partial+final HashAggregate; only referenced columns read"),
    ("q11_top_revenue",
      "BroadcastHashJoin on both dims; filter pushed to customer scan"),
    ("q06_time_slice",
      "timestamp predicates pushed into the parquet scan"),
    ("q23_minhash_sig",
      "whole pipeline in one WholeStageCodegen span, no shuffle"),
    ("q43_minhash_native",
      "native graft_minhash Expression inside codegen"),
    ("q24_neardup_lsh",
      "band explode -> id-only bucket join -> graft_eqcount filter " +
        "-> graft_isize exact verify"),
    ("q45_embed_neardup",
      "broadcast pair scan; graft_dot kernel inside codegen"),
    ("q30_fm_distinct",
      "sketch as algebraic aggregation: partial agg before shuffle"),
    ("q33_degree_hist",
      "J2 self-join shape; histogram output independent of scale. " +
        "Pair aggregate is volume-gated (Graphs.edgesFromCp): " +
        "below the guard (every oracle SF) the stock partial-agg " +
        "layout; " +
        "past the narrow-pair guard the pair stream clusters by " +
        "(src,dst) at mass/2M partitions (zero spill at 100×, " +
        "diag/r14/q33_100x_gate_evidence.out)"),
    ("q50_sessionize",
      "session_window aggregation — one shuffle on user_id"),
    ("q52_pivot_daily",
      "pinned-domain pivot: one scan, conditional aggregates"),
    ("q57_tfidf",
      "tf aggregate, then broadcast df/N joins; per-doc top-k window"),
    ("q59_curation",
      "three signal branches joined on doc_id; verdict is map-side"),
    ("q61_corpus_prep",
      "curation keep-set anti-joined against the near-dup pair list"),
    ("q55_repetition",
      "shuffle-free: all repetition ratios are per-row expression " +
        "work (sorted-run HOF), no explode/exchange anywhere"),
    ("q66_decontaminate",
      "eval-set grams BroadcastHashJoin against exploded corpus " +
        "grams; only hits reach the doc_id aggregate"),
    ("q67_token_shards",
      "range partition + per-partition pass; NO un-partitioned " +
        "window (the naive cumsum plan would single-task the corpus)"),
    ("q73_salted_join",
      "join keys are (pk, _salt): one hot part key spreads over " +
        "JoinSalts reducers; build side exploded once per salt"),
    ("q81_curriculum",
      "two-phase staging: exact-percentile boundary agg broadcast " +
        "into a map-side binning — no global ntile sort anywhere"),
    ("q82_novelty",
      "gram-keyed shuffles only: per-doc distinct grams -> global " +
        "df aggregate -> join back -> doc-keyed aggregate"),
    ("q83_mixture_weights",
      "everything past the source-keyed partial aggregate is " +
        "arithmetic over a #sources-row broadcast frame"),
    ("q86_train_pipeline",
      "end-to-end composition: every stage boundary reads a " +
        "checkpointed subtree (Scan ExistingRDD), so no stage " +
        "recomputes another's work — the signal chain, the curated " +
        "corpus, and the mixture sliver each materialize exactly once"),
    ("q89_content_rec",
      "the registered entry reads the session-memoized content " +
        "top-k artifact (ONE Scan ExistingRDD + order) — the build " +
        "plan itself is dumped as _content_build below"),
    ("q92_hybrid_rec",
      "composition over memoized artifacts: the CF and content " +
        "top-k frames are each ONE Scan ExistingRDD; the fusion is " +
        "a full-outer join of two k-per-user frames plus the blend " +
        "window — nothing is rebuilt when q87/q89 ran in-session"),
    ("_cf_build",
      "q87's underlying build (memo-free entry itemCfOn): capped ui " +
        "matrix -> co-occurrence self-join with the pair aggregate " +
        "repartitioned at cardinality-scaled parallelism (exact " +
        "sum n(n-1)/2 estimate; session partitions remain the " +
        "floor) -> size-gated degree broadcasts (items-scale " +
        "catalogs fall back to shuffle-hash) -> top-M neighbor " +
        "WindowGroupLimit -> size-gated neighbor scoring at " +
        "|ui|*M-scaled parallelism -> shuffle-hash anti-join on " +
        "owned -> volume-gated per-user clustering for the top-k " +
        "window"),
    ("_content_build",
      "q89's underlying build (memo-free entry contentRecOn): " +
        "per-user bounded aggregate — profile rows (<=3*cap per " +
        "user) feed ONE typed Aggregator that scores against a " +
        "broadcast vocabulary-bounded class index (top-F profile, " +
        "un2, integer class dots, both cap+k cuts all inside the " +
        "buffer), so no users x classes intermediate exists in the " +
        "plan; then the owned anti-join and the final per-user rank " +
        "WindowGroupLimit on k-per-user rows"),
    ("q105_attribution",
      "interval join planned as an EQUI hash join on user_id with " +
        "the time range as a residual filter — never a nested loop; " +
        "the same operator tree Structured Streaming bounds with " +
        "watermarks in attributeStream"),
    ("q110_approx_quantiles",
      "two-phase mergeable summary: scalar min/max broadcast into a " +
        "map-side binning projection, partial+final HashAggregate " +
        "to 128 rows, interpolation entirely on the bounded frame"),
    ("q112_latest_state",
      "CDC latest-state via max-of-struct: partial aggregation " +
        "before the shuffle (O(1) state per key), no window sort of " +
        "any key's history"),
    ("q119_rolling_active",
      "exact rolling distinct: distinct (user, day) reduction, then " +
        "a map-side <=7-day sequence/explode expansion into a " +
        "day-keyed count-distinct — no per-day history rescans"),
    ("q128_state_at_purchase",
      "as-of feature join: user-keyed probe x runs join with a " +
        "max-of-struct argmax per probe (partial aggregation, no " +
        "per-probe window sort); left join preserves probes with " +
        "no prior state"),
    ("_q68_on_unsorted",
      "qualitySampleOn — a representative *On entry point: the " +
        "map-side signal+filter chain ends WITHOUT a Sort (every " +
        "*On returns unsorted so compositions never inherit a " +
        "corpus-wide presentation sort; the registered q68 wrapper " +
        "adds the orderBy)"),
    ("q90_delta_screen",
      "incremental ingest dedup: source=delta pushed into the " +
        "parquet scan (PushedFilters), delta features computed " +
        "map-side and carried through the band explode, index sides " +
        "are checkpointed scans — delta never self-joins, and the " +
        "asymmetric band join replaces the full n-squared pass"))

  /** Fields a plan node prints before "... N more fields": Spark's
    * default of 25 cut q30's 40-sketch explode array. Plan text only. */
  private val MaxPlanFields = 1000

  /** One PLANS.md section: the id, its roster note, the formatted
    * physical plan. */
  private[graft] def section(name: String, spark: SparkSession,
      sfDir: String): String = {
    val plan = frameFor(name, spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val note = picks.toMap.get(name).fold("")(n => s"_${n}_\n\n")
    s"\n## $name\n\n$note```\n$plan```"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val ids =
      if (args.length > 1) args(1).split(",").toSeq else picks.map(_._1)
    val spark = Sessions.local(Sessions.cpus,
      "spark.sql.debug.maxToStringFields" -> MaxPlanFields.toString)
    val sf = java.nio.file.Paths.get(sfDir).getFileName
    // UTF-8 whatever the locale: the notes and plans are not ASCII
    val out = new java.io.PrintStream(System.out, true,
      java.nio.charset.StandardCharsets.UTF_8)
    import out.println
    println("# PLANS — physical plans of representative queries\n")
    println(s"Generated by `graft.ExplainDump` at $sf on " +
      s"local[${Sessions.cpus}], commit ${GitStamp.sha}. What to look\n" +
      "for per plan is noted above each dump. Every frame is built\n" +
      "the way Verify and Bench build it (gate estimates, checkpoints\n" +
      "and driver collects run), so each volume-gated operator shows\n" +
      "the branch its gate takes at this SF; the other branches are\n" +
      "pinned by plan tests (RecommendSpec/SimilaritySpec/GraphSpec).")
    ids.foreach { name =>
      println(section(name, spark, sfDir))
      Sessions.dropCheckpoints(spark)
    }
    spark.stop()
  }
}
