package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.mining.SetSimilarity

/** End-to-end corpus-preparation compositions — the operators of
  * [[Text]] and [[graft.mining.SetSimilarity]] chained the way a
  * training-data pipeline actually runs them. Nothing here introduces
  * new math; the value is that the pieces compose as DataFrames (one
  * driver program, one Catalyst plan per stage, no materialization
  * between stages beyond what the similarity join already checkpoints)
  * and that the WHOLE chain is still oracle-verifiable.
  */
object Pipeline {

  /** q61: the final kept-document set — curation verdict (q59) minus
    * near-duplicates (q58): a document is dropped when it has a
    * shingle-Jaccard ≥ 0.8 neighbor with a smaller doc_id ("keep first
    * occurrence"; chains collapse to their minimum id, the standard
    * production choice — no transitive-closure pass). Anti-join on the
    * near-dup pair list, which is tiny relative to the corpus. */
  def corpusPrep(s: SparkSession, d: String): DataFrame =
    corpusPrepOn(documents(s, d)).orderBy(col("doc_id"))

  /** q61 over a caller-supplied (doc_id, text) corpus — the one-call
    * "clean my corpus" entry point. */
  def corpusPrepOn(docs: DataFrame): DataFrame =
    corpusPrepFrom(Text.curationOn(docs), SetSimilarity.shingleNeardupOn(docs))

  /** The q61 composition over ALREADY-COMPUTED q59/q58 outputs — a
    * pipeline that has run curation and near-dup detection (the usual
    * case: the source report and the prep share the same signals) pays
    * only the anti-join here instead of recomputing both subtrees. */
  def corpusPrepFrom(curation: DataFrame, neardups: DataFrame): DataFrame = {
    val kept = curation.filter(col("keep")).select(col("doc_id"))
    val dupDropped = neardups
      .select(col("doc_b").as("doc_id")).distinct()
    kept.join(dupDropped, Seq("doc_id"), "left_anti")
  }

  val corpusPrepSql: String =
    s"""WITH cur AS (SELECT * FROM (${Text.curationSql})),
       |nd AS (SELECT DISTINCT doc_b FROM (${SetSimilarity.shingleNeardupSql}))
       |SELECT doc_id FROM cur
       |WHERE keep AND doc_id NOT IN (SELECT doc_b FROM nd)
       |ORDER BY doc_id""".stripMargin

  /** q62: the per-source dataset report ("dataset card" numbers): doc
    * count, kept count and fraction after the q59 cascade, mean
    * composite quality, and distinct language labels. One join of two
    * doc-keyed signal sets, then a source-keyed aggregate — the shuffle
    * key is `source` (low cardinality), everything before it map-side
    * partial-aggregates. */
  def sourceReport(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("source"), col("lang"))
      .join(Text.curation(s, d).select(col("doc_id"), col("keep")), "doc_id")
      .join(Text.docQuality(s, d).select(col("doc_id"), col("quality")),
        "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        // floor(x*1e4+0.5)/1e4 rather than round(x, 4): Spark rounds
        // HALF_UP, DuckDB HALF_EVEN, and integer ratios like n/32 land
        // exactly on .5 boundaries at the 5th decimal. floor-half-up is
        // bit-identical in both engines (same idiom as q60).
        (floor((sum(col("keep").cast("long")).cast("double") /
          count(lit(1))) * 1e4 + 0.5) / 1e4).as("keep_frac"),
        (floor(avg(col("quality")) * 1e4 + 0.5) / 1e4).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("source"))

  val sourceReportSql: String =
    s"""WITH cur AS (SELECT * FROM (${Text.curationSql})),
       |q AS (SELECT * FROM (${Text.docQualitySql}))
       |SELECT d.source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN cur.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  floor(CAST(sum(CASE WHEN cur.keep THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) * 1e4 + 0.5) / 1e4 AS keep_frac,
       |  floor(avg(q.quality) * 1e4 + 0.5) / 1e4 AS avg_quality,
       |  count(DISTINCT d.lang) AS n_langs
       |FROM documents d
       |JOIN cur ON cur.doc_id = d.doc_id
       |JOIN q ON q.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q65: near-duplicate clusters — the canonicalization step real
    * dedup pipelines run after pair detection: union the q58 pair list
    * into an undirected graph, take connected components (star
    * contraction, the O(log n) 100-TB path), and label every clustered
    * doc with its component's minimum doc_id. Unlike q61's
    * drop-every-doc_b rule this closes chains transitively (a~b, b~c
    * ⇒ one cluster {a,b,c} with canon a). Docs with no near-dup do not
    * appear (they are their own canon). The pair list is output-sized
    * — tiny relative to the corpus — so the CC rounds are cheap. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    dupClustersOn(documents(s, d)).orderBy(col("doc_id"))

  /** q65 over a caller-supplied (doc_id, text) corpus. The contraction
    * is the pair list's only reader, and it reads the list once: its
    * adjacency is built from one pass over the frame, so the banded-LSH
    * pair build runs once with no checkpoint in between. */
  def dupClustersOn(docs: DataFrame): DataFrame =
    dupClustersFrom(SetSimilarity.shingleNeardupOn(docs)
      .select(col("doc_a"), col("doc_b")))

  /** The q65 canonicalization over an ALREADY-COMPUTED near-dup pair
    * list (doc_a, doc_b) — any of the q22/q24/q25/q45/q58 detectors
    * feeds this directly, so a pipeline that has its pairs pays only
    * the contraction rounds. UNORDERED: consumers that join it (q80's
    * split assignment) must not inherit a useless global sort — the
    * ordered public form is [[dupClustersOn]]. */
  def dupClustersFrom(pairs: DataFrame): DataFrame =
    graft.graph.Graphs.componentsLargeStar(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("node").as("doc_id"), col("component").as("canon_id"))

  val dupClustersSql: String =
    s"""WITH RECURSIVE
       |nd AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (${SetSimilarity.shingleNeardupSql})),
       |ue AS (SELECT doc_a AS src, doc_b AS dst FROM nd
       |       UNION ALL SELECT doc_b, doc_a FROM nd),
       |r AS (
       |  SELECT src AS node, src AS lbl FROM ue
       |  UNION
       |  SELECT e.src AS node, r.lbl
       |  FROM r JOIN ue e ON e.dst = r.node)
       |SELECT node AS doc_id, min(lbl) AS canon_id
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Eval-set boundary and n-gram width for the q66 decontamination
    * check (first [[DecontamEvalMax]] doc_ids stand in for a held-out
    * benchmark; 5-grams because the synthetic vocabulary is small —
    * real pipelines use 8–13-gram hashes, same plan shape). */
  val DecontamEvalMax = 50L
  val DecontamN = 5

  /** q66: training-set decontamination — flag corpus documents sharing
    * any [[DecontamN]]-gram with the eval set, reporting the count of
    * distinct shared grams. Plan shape at 100 TB: the eval side is
    * benchmark-sized by definition, so its distinct gram set BROADCASTS
    * and the corpus side is one explode + map-side hash-join + grouped
    * count — no corpus-sized shuffle of anything but the hits. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    decontaminateOn(docs.filter(col("doc_id") >= DecontamEvalMax),
      docs.filter(col("doc_id") < DecontamEvalMax))
      .orderBy(col("doc_id"))
  }

  /** q66 over caller-supplied corpus and eval-set DataFrames (both
    * (doc_id, text)). */
  def decontaminateOn(corpus: DataFrame, evalDocs: DataFrame): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col("doc_id"), expr(Text.toksExpr).as("toks"))
      .select(col("doc_id"),
        explode(expr(Text.ngramExpr("toks", DecontamN))).as("g"))
    grams(corpus)
      .join(broadcast(grams(evalDocs).select(col("g")).distinct()), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
  }

  val decontaminateSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.toksSqlExpr} AS toks
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        unnest(${Text.ngramSqlExpr("toks", DecontamN)}) AS g
       |      FROM t),
       |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < $DecontamEvalMax)
       |SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
       |FROM g JOIN ev ON ev.g = g.g
       |WHERE g.doc_id >= $DecontamEvalMax
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Token budget per shard for the q67 packing (docs average ~120
    * tokens, so shards hold ~40 docs at the test scales). */
  val TokenShardBudget = 5000L

  /** q67: token-budget sharding — the sequence-packing step that cuts
    * a doc_id-ordered corpus into contiguous shards of ≈`budget`
    * tokens each (shard k = docs whose preceding cumulative token
    * count floors to k budgets), the unit a training job reads.
    *
    * The naive plan is `sum(n_tokens) OVER (ORDER BY doc_id)` — an
    * un-partitioned window that drags the whole corpus through ONE
    * task. Instead: range-partition by doc_id, per-partition token
    * totals (a partition-COUNT-sized collect, not data), prefix-sum
    * the offsets on the driver, then one map-side pass closes the
    * cumulative count per partition. Output is independent of the
    * partitioning, so the DuckDB window replay verifies it exactly. */
  def tokenShards(s: SparkSession, d: String): DataFrame =
    tokenShardsOn(documents(s, d), TokenShardBudget)
      .orderBy(col("doc_id"))

  /** q67 over a caller-supplied (doc_id, text) corpus. */
  def tokenShardsOn(docs: DataFrame, budget: Long): DataFrame =
    tokenShardsFrom(
      docs.select(col("doc_id"),
        size(expr(Text.toksExpr)).cast("long").as("n_tokens")),
      budget)

  /** The q67 packing over PRE-COMPUTED per-doc token counts (doc_id,
    * n_tokens) — a pipeline that already has the counts (q86 reuses
    * one signal-chain pass) skips the tokenize scan. */
  def tokenShardsFrom(tok: DataFrame, budget: Long): DataFrame = {
    val s = tok.sparkSession
    import s.implicits._
    val toks = tok
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[(Long, Long)]
    val rdd = toks.rdd.cache()
    // per-partition totals: one number per partition crosses the driver
    val totals = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator.single((i, it.map(_._2).sum)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(0L)(_ + _)
    val offB = s.sparkContext.broadcast(offsets)
    val out = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var cum = offB.value(i)
        it.map { case (id, n) =>
          val shard = cum / budget
          cum += n
          (id, n, shard)
        }
      }
      .toDF("doc_id", "n_tokens", "shard")
      .localCheckpoint() // kept: 1 reader; cuts lineage to `rdd`
    rdd.unpersist(false)
    out
  }

  val tokenShardsSql: String =
    s"""WITH t AS (SELECT doc_id, len(${Text.toksSqlExpr}) AS n_tokens
       |           FROM documents)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - n_tokens) / $TokenShardBudget) AS BIGINT) AS shard
       |FROM t ORDER BY doc_id""".stripMargin

  /** Context-window capacity for q148's greedy packing (tokens). Docs
    * average ~120 tokens, so bins hold ~4 docs at the test scales —
    * the greedy reset rule is exercised constantly, not vacuously. */
  val PackCapacity = 512L

  /** q148: greedy sequence packing — the training-prep step q67's
    * continuous sharding deliberately is not: docs are ATOMIC (a
    * context window never splits a document), bins are fixed-capacity
    * token windows, and a bin closes when the next doc would overflow
    * it (an oversized doc gets a bin of its own). The standard packing
    * pass that turns a curated corpus into fixed-length training
    * sequences.
    *
    * Scale shape: exact greedy packing is SEQUENTIAL — each bin
    * decision depends on the whole prefix — so the global form cannot
    * be a window or a prefix sum. Production stacks parallelize it
    * hierarchically, and so does this: q67's token-budget shards are
    * the independent units (each holds ≈budget/avg_tokens docs, a
    * BOUNDED group by construction), exact greedy runs inside each
    * shard, and the (shard, bin) pair is globally unique with zero
    * coordination. One bounded typed mapGroups per shard — the same
    * license as the SON kernel; no group ever exceeds the shard
    * budget's doc count.
    *
    * Determinism: shard assignment is q67's (oracle-green), in-shard
    * order is doc_id, the greedy rule is pure integer arithmetic —
    * the DuckDB oracle replays the recursion exactly (recursive CTE
    * stepping row-rank by row-rank across all shards at once). */
  def packSequences(s: SparkSession, d: String): DataFrame =
    packSequencesOn(documents(s, d), TokenShardBudget, PackCapacity)
      .orderBy(col("doc_id"))

  /** q148 over a caller-supplied (doc_id, text) corpus. */
  def packSequencesOn(docs: DataFrame, budget: Long, capacity: Long)
  : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    tokenShardsOn(docs, budget)
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"),
        col("shard").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (shard, it) =>
        // one shard ≈ budget tokens of docs — bounded buffer
        val ds = it.toArray.sortBy(_._1)
        var bin = 0L
        var fill = 0L
        // first-row flag, not `fill > 0` (ADVICE r10): a ZERO-token doc
        // opening a shard leaves fill at 0, and the next doc must still
        // take the overflow test — exactly the oracle CTE's rn>1 rule
        var first = true
        ds.iterator.map { case (id, n, _) =>
          if (first) { first = false; fill = n }
          else if (fill + n > capacity) { bin += 1; fill = n }
          else fill += n
          (id, n, shard, bin, fill)
        }
      }
      .toDF("doc_id", "n_tokens", "shard", "bin", "bin_fill")
  }

  val packSequencesSql: String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, CAST(len(${Text.toksSqlExpr}) AS BIGINT)
       |    AS n_tokens FROM documents),
       |sh AS (SELECT doc_id, n_tokens,
       |    CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens) / $TokenShardBudget) AS BIGINT) AS shard
       |  FROM t),
       |r AS (SELECT doc_id, n_tokens, shard,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |  FROM sh),
       |pack(shard, rn, doc_id, n_tokens, bin, fill) AS (
       |  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
       |    n_tokens
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
       |    CASE WHEN p.fill + r.n_tokens > $PackCapacity
       |      THEN p.bin + 1 ELSE p.bin END,
       |    CASE WHEN p.fill + r.n_tokens > $PackCapacity
       |      THEN r.n_tokens ELSE p.fill + r.n_tokens END
       |  FROM pack p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
       |SELECT doc_id, n_tokens, shard, bin, fill AS bin_fill
       |FROM pack ORDER BY doc_id""".stripMargin

  /** 2^60 — the h60 hash range, for hash-fraction acceptance tests. */
  private val H60Range = "1152921504606846976.0"

  /** q68: quality-weighted sampling — keep each document with
    * probability equal to its composite quality score (importance
    * sampling: high-quality docs survive, low-quality docs thin out,
    * negative scores drop outright). Deterministic and replayable:
    * the acceptance test is h60(doc_id) < quality·2^60, not an RNG —
    * the same doc makes the same call on every run and both engines.
    * Map-side expression work over one scan; no shuffle but the
    * output sort. */
  def qualitySample(s: SparkSession, d: String): DataFrame =
    qualitySampleOn(documents(s, d)).orderBy(col("doc_id"))

  /** q68 over a caller-supplied (doc_id, text) corpus. */
  def qualitySampleOn(docs: DataFrame): DataFrame =
    Text.docQualityOn(docs)
      .select(col("doc_id"), col("quality"))
      .filter(expr(
        s"${graft.functions.Hashing.h60SparkSql("doc_id")} < " +
          s"CAST(floor(quality * $H60Range) AS BIGINT)"))

  val qualitySampleSql: String =
    s"""WITH q AS (SELECT doc_id, quality FROM (${Text.docQualitySql}))
       |SELECT doc_id, quality FROM q
       |WHERE ${graft.functions.Hashing.h60Sql("doc_id")} <
       |  CAST(floor(quality * $H60Range) AS BIGINT)
       |ORDER BY doc_id""".stripMargin

  /** Per-source token quota for the q69 mixture (sources hold
    * ~1300–1550 tokens at sf0.01, so this admits roughly the better
    * half and the cutoff actually bites in the oracle comparison). */
  val SourceTokenQuota = 800L

  /** q69: data-mixture selection — give every source an equal token
    * quota and fill it with the source's best documents (quality desc,
    * doc_id tiebreak), the mixing step that stops one giant source
    * from dominating the training set. A doc is admitted while its
    * source's running token count (over that order) is under quota. */
  def sourceMixture(s: SparkSession, d: String): DataFrame =
    sourceMixtureOn(documents(s, d), SourceTokenQuota)
      .orderBy(col("doc_id"))

  /** q69 over a caller-supplied (doc_id, source, text) corpus.
    *
    * NOT the naive `sum() OVER (PARTITION BY source ORDER BY ...)` —
    * that window sorts an ENTIRE source in one task (a 10⁹-doc source
    * at 100 TB stalls the stage). Instead, two-phase: quality is
    * 4-dp-rounded, so per-(source, quality-level) token sums are a
    * BOUNDED relation (≤ sources × ~25k levels); the per-source level
    * cumsum runs on the driver over that summary, classifying every
    * level as fully-admitted, fully-rejected, or THE one boundary
    * level per source. Only boundary-level docs — one quality value in
    * one source — need doc-level ordering, and their window partitions
    * on (source) restricted to that sliver. Output is exactly the
    * windowed form's (same order, same crossing-doc semantics), which
    * the unchanged window-replay oracle verifies. */
  def sourceMixtureOn(docs: DataFrame, quota: Long): DataFrame =
    sourceMixtureFrom(
      docs.select(col("doc_id"), col("source"))
        .join(Text.docQualityOn(docs)
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("quality")), "doc_id"),
      quota)

  /** The q69 quota admission over a PRE-COMPUTED signal frame (doc_id,
    * source, n_tokens, quality) — q86 feeds its shared signal-chain
    * checkpoint here instead of re-deriving quality. */
  def sourceMixtureFrom(sigIn: DataFrame, quota: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sigIn.sparkSession
    val sig = sigIn
      .select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("quality"))
      .localCheckpoint() // kept: 3 readers, level collect job + 2 branches
    // phase 1: bounded level summary → driver cumsum per source
    val levels = sig.groupBy(col("source"), col("quality"))
      .agg(sum(col("n_tokens")).as("lt"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1)
    // (source, quality) → cum tokens BEFORE the level, in admission
    // order (quality desc; doc_id order only matters inside a level)
    val cuts = levels.toSeq.flatMap { case (src, ls) =>
      var cum = 0L
      ls.sortBy(-_._2).map { case (_, q, lt0) =>
        val before = cum; cum += lt0; ((src, q), before)
      }.toSeq
    }
    import s.implicits._
    // full: C + lt < quota guarantees every member's cum_before <
    // quota (conservative: a level ending exactly AT quota resolves
    // doc-level below with identical semantics). boundary: the ≤ one
    // level per source where the quota crosses — C < quota ≤ C + lt.
    val lt = levels.map { case (src, ls) =>
      (src, ls.map(l => l._2 -> l._3).toMap) }
    val fullKeys = cuts.toSeq.collect {
      case ((src, q), c) if c + lt(src)(q) < quota => (src, q)
    }.toDF("source", "quality")
    val bndKeys = cuts.toSeq.collect {
      case ((src, q), c) if c < quota && c + lt(src)(q) >= quota =>
        (src, q, c)
    }.toDF("source", "quality", "cum_level")
    val fullDocs = sig
      .join(broadcast(fullKeys), Seq("source", "quality"), "left_semi")
    // phase 2: doc-level order only within each source's single
    // boundary level — the window partition is that sliver, never the
    // whole source
    val bw = Window.partitionBy(col("source"), col("quality"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bndDocs = sig
      .join(broadcast(bndKeys), Seq("source", "quality"))
      .withColumn("cum_in",
        coalesce(sum(col("n_tokens")).over(bw), lit(0L)))
      .filter(col("cum_in") + col("cum_level") < quota)
    fullDocs.select(col("doc_id"), col("source"), col("n_tokens"))
      .unionByName(
        bndDocs.select(col("doc_id"), col("source"), col("n_tokens")))
  }

  val sourceMixtureSql: String =
    s"""WITH q AS (SELECT doc_id, n_tokens, quality
       |           FROM (${Text.docQualitySql})),
       |j AS (SELECT d.doc_id, d.source, q.n_tokens, q.quality,
       |        coalesce(sum(q.n_tokens) OVER (PARTITION BY d.source
       |          ORDER BY q.quality DESC, d.doc_id ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS cum_before
       |      FROM documents d JOIN q ON q.doc_id = d.doc_id)
       |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM j WHERE cum_before < $SourceTokenQuota
       |ORDER BY doc_id""".stripMargin

  /** Split-hash modulus / train share for q80: h60(canon) mod 10 < 8
    * → train (80/20). Same literals in the oracle. */
  val SplitMod = 10L
  val SplitTrain = 8L

  /** q80: leakage-safe train/validation split — the assignment every
    * eval pipeline needs: hash documents into train/val BY NEAR-DUP
    * GROUP, not by doc_id, so a document and its near-duplicates can
    * never straddle the boundary (doc-level hashing leaks val content
    * into train through paraphrases — the classic contamination bug).
    * Group = q65's transitive dup cluster (singletons are their own
    * group); split = h60(canon) mod [[SplitMod]] < [[SplitTrain]].
    * The report carries a `cross_pairs` audit column COMPUTED from the
    * pair list (not assumed zero): any near-dup pair whose endpoints
    * disagree on split counts here, so the invariant is visible in the
    * oracle comparison itself. Shuffle keys are pair-list-sized (CC
    * rounds) or `split` (2 groups after doc-keyed partials). */
  def leakageSplit(s: SparkSession, d: String): DataFrame =
    leakageSplitOn(documents(s, d)).orderBy(col("split"))

  /** q80 over a caller-supplied (doc_id, text) corpus. */
  def leakageSplitOn(docs: DataFrame): DataFrame = {
    // kept: 2 readers, the contraction's rounds (own jobs) + the audit
    val pairs = SetSimilarity.shingleNeardupOn(docs)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    leakageSplitFrom(docs, pairs, dupClustersFrom(pairs))
  }

  /** The q80 split/audit tail over an ALREADY-COMPUTED pair list and
    * its CC canonicalization — the same operators [[leakageSplitOn]]
    * composes, split out so the scale stress can time the pair build,
    * the contraction rounds, and this tail behind forced checkpoint
    * boundaries (VERDICT r14 item 3) without drifting from the
    * production plan. */
  private[graft] def leakageSplitFrom(docs: DataFrame, pairs: DataFrame,
      clusters: DataFrame): DataFrame = {
    val tagged = docs
      .select(col("doc_id"),
        size(expr(Text.toksExpr)).cast("long").as("n_tokens"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("canon", coalesce(col("canon_id"), col("doc_id")))
      .withColumn("split", expr(
        s"CASE WHEN ${graft.functions.Hashing.h60SparkSql("canon")} " +
          s"% $SplitMod < $SplitTrain THEN 'train' ELSE 'val' END"))
      .localCheckpoint() // kept: 3 readers over the star labels' RDD
    val sp = tagged.select(col("doc_id"), col("split"))
    val viol = pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)),
        lit(0L)).as("cross_pairs"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("canon")).as("n_groups"))
      .crossJoin(broadcast(viol)) // 1-row scalar audit
  }

  val leakageSplitSql: String =
    s"""WITH RECURSIVE
       |nd AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (${SetSimilarity.shingleNeardupSql})),
       |ue AS (SELECT doc_a AS src, doc_b AS dst FROM nd
       |       UNION ALL SELECT doc_b, doc_a FROM nd),
       |r AS (
       |  SELECT src AS node, src AS lbl FROM ue
       |  UNION
       |  SELECT e.src AS node, r.lbl
       |  FROM r JOIN ue e ON e.dst = r.node),
       |cl AS (SELECT node AS doc_id, min(lbl) AS canon_id
       |       FROM r GROUP BY 1),
       |t AS (SELECT doc_id,
       |        CAST(len(${Text.toksSqlExpr}) AS BIGINT) AS n_tokens
       |      FROM documents),
       |g AS (SELECT t.doc_id, t.n_tokens,
       |        coalesce(cl.canon_id, t.doc_id) AS canon
       |      FROM t LEFT JOIN cl ON cl.doc_id = t.doc_id),
       |s AS (SELECT doc_id, n_tokens, canon,
       |        CASE WHEN ${graft.functions.Hashing.h60Sql("canon")}
       |          % $SplitMod < $SplitTrain THEN 'train' ELSE 'val' END
       |          AS split
       |      FROM g),
       |v AS (SELECT coalesce(CAST(sum(
       |        CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
       |        AS BIGINT), 0) AS cross_pairs
       |      FROM nd
       |      JOIN s sa ON sa.doc_id = nd.doc_a
       |      JOIN s sb ON sb.doc_id = nd.doc_b)
       |SELECT split, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  count(DISTINCT canon) AS n_groups,
       |  (SELECT cross_pairs FROM v) AS cross_pairs
       |FROM s GROUP BY 1 ORDER BY split""".stripMargin

  /** q81: length-staged curriculum — bucket documents into 4 training
    * stages by token-count quartile (short → long, the classic length
    * curriculum). TWO-PHASE, not `ntile() OVER (ORDER BY ...)` (a
    * global ntile sorts the corpus in ONE task): an exact-percentile
    * aggregate computes the 3 boundaries (Spark's exact `percentile`
    * buffers per DISTINCT value — doc lengths, bounded — not per row),
    * broadcast to a map-side stage assignment, then a 4-group
    * aggregate. The 0.25/0.5/0.75 quantiles are dyadic, so linear
    * interpolation is EXACT in both engines and the boundary
    * comparison is parity-safe; avg(quality) sums 4-dp doubles in
    * engine-specific order → the ulp-slack floor-half-up idiom. */
  def lengthCurriculum(s: SparkSession, d: String): DataFrame =
    lengthCurriculumOn(documents(s, d)).orderBy(col("stage"))

  /** q81 over a caller-supplied (doc_id, text) corpus. */
  def lengthCurriculumOn(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"),
        size(expr(Text.toksExpr)).cast("long").as("n_tokens"))
      .join(Text.docQualityOn(docs).select(col("doc_id"), col("quality")),
        "doc_id")
    val b = t.agg(
      expr("percentile(n_tokens, 0.25D)").as("b1"),
      expr("percentile(n_tokens, 0.5D)").as("b2"),
      expr("percentile(n_tokens, 0.75D)").as("b3"))
    t.crossJoin(broadcast(b)) // 1-row boundary frame
      .withColumn("stage",
        (lit(1) + (col("n_tokens") > col("b1")).cast("int")
          + (col("n_tokens") > col("b2")).cast("int")
          + (col("n_tokens") > col("b3")).cast("int")).cast("long"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"),
        expr("floor(avg(quality) * 1e4 + 0.5 + 1e-9) / 1e4")
          .as("avg_quality"))
  }

  val lengthCurriculumSql: String =
    s"""WITH q AS (SELECT doc_id, quality FROM (${Text.docQualitySql})),
       |t AS (SELECT d.doc_id,
       |        CAST(len(${Text.toksSqlExpr}) AS BIGINT) AS n_tokens,
       |        q.quality
       |      FROM documents d JOIN q ON q.doc_id = d.doc_id),
       |b AS (SELECT quantile_cont(n_tokens, 0.25) AS b1,
       |        quantile_cont(n_tokens, 0.5) AS b2,
       |        quantile_cont(n_tokens, 0.75) AS b3 FROM t)
       |SELECT CAST(1 + (n_tokens > b1)::int + (n_tokens > b2)::int
       |         + (n_tokens > b3)::int AS BIGINT) AS stage,
       |  count(*) AS n_docs, min(n_tokens) AS min_tokens,
       |  max(n_tokens) AS max_tokens,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  floor(avg(quality) * 1e4 + 0.5 + 1e-9) / 1e4 AS avg_quality
       |FROM t, b GROUP BY 1 ORDER BY stage""".stripMargin

  /** Token budget the q83 temperature mixture allocates. */
  val MixtureAlloc = 100000L

  /** q83: temperature-based mixture weights — the sampling-weight
    * table pipelines feed the trainer: per-source token share
    * s_i = t_i/T flattened with temperature α = 0.5, i.e.
    * w_i = √t_i / Σ_j √t_j (identical to s_i^α/Σ s_j^α — T cancels —
    * and √ is IEEE-correctly-rounded in both engines, unlike pow),
    * then a [[MixtureAlloc]]-token allocation and the implied epochs
    * (repeat factor) per source. Everything after the source-keyed
    * partial-aggregate scan is arithmetic over a #sources-row frame.
    * Σ√t_j sums doubles in engine order → ulp-slack rounding; the
    * allocation derives from the ROUNDED weight so both engines floor
    * the same product; share and epochs are integer ratios (plain
    * floor-half-up). */
  def mixtureWeights(s: SparkSession, d: String): DataFrame =
    mixtureWeightsOn(documents(s, d), MixtureAlloc).orderBy(col("source"))

  /** q83 over a caller-supplied (doc_id, source, text) corpus. */
  def mixtureWeightsOn(docs: DataFrame, budget: Long): DataFrame = {
    val per = docs
      .select(col("source"),
        size(expr(Text.toksExpr)).cast("long").as("n_tokens"))
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"),
      sum(sqrt(col("n_tokens").cast("double"))).as("denom"))
    per.crossJoin(broadcast(tot)) // 1-row scalar frame
      .withColumn("share",
        expr("floor(CAST(n_tokens AS DOUBLE) / tot * 1e6 + 0.5) / 1e6"))
      .withColumn("weight", expr(
        "floor(sqrt(CAST(n_tokens AS DOUBLE)) / denom * 1e6 + 0.5 + 1e-9)" +
          " / 1e6"))
      .withColumn("alloc_tokens",
        expr(s"CAST(floor(weight * $budget + 0.5) AS BIGINT)"))
      .withColumn("epochs", expr(
        "floor(CAST(alloc_tokens AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4"))
      .select(col("source"), col("n_tokens"), col("share"), col("weight"),
        col("alloc_tokens"), col("epochs"))
  }

  val mixtureWeightsSql: String =
    s"""WITH per AS (SELECT source,
       |        CAST(sum(len(${Text.toksSqlExpr})) AS BIGINT) AS n_tokens
       |      FROM documents GROUP BY 1),
       |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
       |        sum(sqrt(CAST(n_tokens AS DOUBLE))) AS denom FROM per),
       |w AS (SELECT source, n_tokens,
       |        floor(CAST(n_tokens AS DOUBLE) / tot * 1e6 + 0.5) / 1e6
       |          AS share,
       |        floor(sqrt(CAST(n_tokens AS DOUBLE)) / denom * 1e6
       |          + 0.5 + 1e-9) / 1e6 AS weight
       |      FROM per, tt)
       |SELECT source, n_tokens, share, weight,
       |  CAST(floor(weight * $MixtureAlloc + 0.5) AS BIGINT)
       |    AS alloc_tokens,
       |  floor(CAST(CAST(floor(weight * $MixtureAlloc + 0.5) AS BIGINT)
       |    AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4 AS epochs
       |FROM w ORDER BY source""".stripMargin

  /** q84: training-shard manifest — the artifact a trainer actually
    * consumes alongside q67's packing: per shard, doc/token counts,
    * the doc_id range, and an order-independent content checksum
    * (XOR of per-doc h60(text) — XOR is commutative/associative with
    * no overflow, so Spark's partial aggregation order and DuckDB's
    * agree bit-for-bit, unlike a sum that wraps int64 in Spark but
    * widens to int128 in DuckDB). Detects dropped/duplicated/mutated
    * docs between pipeline runs with one manifest diff. One doc-keyed
    * join + a shard-keyed aggregate. */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    shardManifestOn(documents(s, d), TokenShardBudget)
      .orderBy(col("shard"))

  /** q84 over a caller-supplied (doc_id, text) corpus. */
  def shardManifestOn(docs: DataFrame, budget: Long): DataFrame =
    shardManifestFrom(tokenShardsOn(docs, budget),
      docs.select(col("doc_id"),
        expr(graft.functions.Hashing.h60SparkSql("text")).as("h")))

  /** The q84 manifest aggregate over a PRE-COMPUTED shard assignment
    * (doc_id, n_tokens, shard) and per-doc content hashes (doc_id, h). */
  def shardManifestFrom(shards: DataFrame, hashed: DataFrame): DataFrame =
    shards
      .join(hashed, "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(h)").as("checksum"))

  val shardManifestSql: String =
    s"""WITH sh AS (SELECT * FROM ($tokenShardsSql)),
       |h AS (SELECT doc_id, ${graft.functions.Hashing.h60Sql("text")} AS h
       |      FROM documents)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(sh.n_tokens) AS BIGINT) AS sum_tokens,
       |  min(sh.doc_id) AS min_doc, max(sh.doc_id) AS max_doc,
       |  bit_xor(h.h) AS checksum
       |FROM sh JOIN h ON h.doc_id = sh.doc_id
       |GROUP BY shard ORDER BY shard""".stripMargin

  /** q85: exact pairwise source gram overlap — the contamination
    * matrix q70 estimates from merged MinHash sketches, computed
    * exactly: for each source pair, the count of distinct
    * [[DecontamN]]-grams both emit. The (source, gram) distinct set is
    * checkpointed once and self-joined on gram; per-gram fan-out is
    * bounded by #sources² (not corpus size), and the second join side
    * reuses the first's hash exchange. Pairs sharing nothing are
    * omitted (inner join). */
  def sourceGramOverlap(s: SparkSession, d: String): DataFrame =
    sourceGramOverlapOn(documents(s, d))
      .orderBy(col("src_a"), col("src_b"))

  /** q85 phase 1: the distinct (source, gram) set — corpus-sized, the
    * input both sides of the self-join read. Split out (with
    * [[sourceGramPairsFrom]]) so ScaleStress can give each phase its
    * own wall/bytes/spill column (VERDICT r15 item 3). */
  private[graft] def sourceGramSet(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), expr(Text.toksExpr).as("toks"))
      .select(col("source"),
        explode(expr(Text.ngramExpr("toks", DecontamN))).as("g"))
      .distinct()

  /** q85 phase 2: the gram-keyed self-join + pair aggregate over an
    * already-materialized (source, gram) set. Per-gram join INPUT is
    * bounded by #sources (the set is distinct on (source, gram)), and
    * per-gram OUTPUT by #sources² — the skew question at scale is the
    * corpus-sized gram-keyed exchange itself, measured by the
    * ScaleStress g2 stage row. */
  private[graft] def sourceGramPairsFrom(sg: DataFrame): DataFrame =
    sg.select(col("source").as("src_a"), col("g"))
      .join(sg.select(col("source").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_grams"))

  /** q85 over a caller-supplied (doc_id, source, text) corpus. */
  def sourceGramOverlapOn(docs: DataFrame): DataFrame =
    // kept: 2 self-join sides; without it each reruns the distinct's
    // corpus-sized final aggregate (22% slower at sf0.1)
    sourceGramPairsFrom(sourceGramSet(docs).localCheckpoint())

  val sourceGramOverlapSql: String =
    s"""WITH t AS (SELECT source, ${Text.toksSqlExpr} AS toks
       |           FROM documents),
       |sg AS (SELECT DISTINCT source, g FROM (
       |  SELECT source, unnest(${Text.ngramSqlExpr("toks", DecontamN)})
       |    AS g FROM t))
       |SELECT a.source AS src_a, b.source AS src_b,
       |  count(*) AS shared_grams
       |FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q86: the END-TO-END training-data pipeline — every preparation
    * stage composed as ONE DataFrame DAG over one corpus:
    * curation (q59's first-failing-rule cascade) → shingle near-dup
    * pairs on the kept set (q58) → transitive dup clusters, keeping
    * each cluster's canonical doc (q65) → leakage-safe train split
    * (q80's canon-hash rule; a surviving doc IS its cluster's canon,
    * so the hash key is its own id and near-dups can never straddle
    * the boundary) → per-source token-quota mixture (q69) →
    * token-budget sharding (q67) → shard manifest with content
    * checksums (q84). Output: the manifest a trainer would mount.
    *
    * REUSE is the point of the composition (the q61 lesson — its
    * subtree-reuse fix was worth 2×): ONE signal-chain pass
    * (checkpointed) feeds the curation verdict, the mixture's quality
    * ordering, and the shard token counts; the curated corpus
    * (checkpointed) feeds pair detection, the mixture's source column,
    * and the manifest hash. No stage recomputes another's subtree —
    * PLANS.md's q86 dump shows the stage boundaries as ExistingRDD
    * scans. Any drift anywhere in the chain (a doc wrongly kept, a
    * cluster mis-canonicalized, one token miscounted) moves a shard
    * boundary or a checksum, so the oracle compare gates the whole
    * DAG, not just the last stage. */
  def trainPipeline(s: SparkSession, d: String): DataFrame =
    trainPipelineOn(documents(s, d)).orderBy(col("shard"))

  /** q86 over a caller-supplied (doc_id, source, text) corpus. */
  def trainPipelineOn(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("source"), col("text"))
    // kept: 3 readers (curation, mixture quality, shard tokens)
    val sig = Text.signalChainOn(docs)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("quality"), col("repetitive"))
      .localCheckpoint()
    val kept = Text.curationFrom(sig, docs)
      .filter(col("keep")).select(col("doc_id"))
    // kept: 3 readers, pair detection (own jobs), source lookup, hash
    val keptDocs = docs.join(kept, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // the contraction reads the pair list once, as its adjacency
    val canon = dupClustersFrom(SetSimilarity.shingleNeardupOn(keptDocs)
      .select(col("doc_a"), col("doc_b")))
    val trainIds = kept
      .join(canon, Seq("doc_id"), "left_outer")
      .filter(coalesce(col("canon_id"), col("doc_id")) === col("doc_id"))
      .filter(expr(
        s"${graft.functions.Hashing.h60SparkSql("doc_id")} " +
          s"% $SplitMod < $SplitTrain"))
      .select(col("doc_id"))
    val trainSig = sig
      .join(trainIds, Seq("doc_id"), "left_semi")
      .join(keptDocs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"))
    val admitted = sourceMixtureFrom(trainSig, SourceTokenQuota)
    val shards = tokenShardsFrom(
      admitted.select(col("doc_id"), col("n_tokens")), TokenShardBudget)
    shardManifestFrom(shards,
      keptDocs.select(col("doc_id"),
        expr(graft.functions.Hashing.h60SparkSql("text")).as("h")))
  }

  /** The q86 oracle replays the whole chain: curation → pair list
    * RESTRICTED to kept endpoints (pair detection is per-pair, so
    * restricting q58's full-corpus pairs equals re-running it on the
    * kept corpus) → recursive-CTE components → canon/split filter →
    * the q69 window replay → the q67 running-sum replay → the q84
    * manifest aggregate. */
  val trainPipelineSql: String =
    s"""WITH RECURSIVE
       |cur AS MATERIALIZED (
       |  SELECT doc_id FROM (${Text.curationSql}) WHERE keep),
       |nd AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (${SetSimilarity.shingleNeardupSql})
       |  WHERE doc_a IN (SELECT doc_id FROM cur)
       |    AND doc_b IN (SELECT doc_id FROM cur)),
       |ue AS (SELECT doc_a AS src, doc_b AS dst FROM nd
       |       UNION ALL SELECT doc_b, doc_a FROM nd),
       |r AS (
       |  SELECT src AS node, src AS lbl FROM ue
       |  UNION
       |  SELECT e.src AS node, r.lbl
       |  FROM r JOIN ue e ON e.dst = r.node),
       |cl AS (SELECT node AS doc_id, min(lbl) AS canon_id
       |       FROM r GROUP BY 1),
       |train AS (
       |  SELECT c.doc_id FROM cur c
       |  LEFT JOIN cl ON cl.doc_id = c.doc_id
       |  WHERE coalesce(cl.canon_id, c.doc_id) = c.doc_id
       |    AND ${graft.functions.Hashing.h60Sql("c.doc_id")}
       |      % $SplitMod < $SplitTrain),
       |q AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality
       |      FROM (${Text.docQualitySql})),
       |tsig AS (
       |  SELECT d.doc_id, d.source, q.n_tokens, q.quality
       |  FROM documents d
       |  JOIN train t ON t.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id),
       |adm AS (
       |  SELECT doc_id, n_tokens FROM (
       |    SELECT doc_id, n_tokens,
       |      coalesce(sum(n_tokens) OVER (PARTITION BY source
       |        ORDER BY quality DESC, doc_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS cum_before
       |    FROM tsig) j
       |  WHERE cum_before < $SourceTokenQuota),
       |sh AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens) / $TokenShardBudget) AS BIGINT) AS shard
       |  FROM adm),
       |h AS (SELECT doc_id, ${graft.functions.Hashing.h60Sql("text")} AS h
       |      FROM documents)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(sh.n_tokens) AS BIGINT) AS sum_tokens,
       |  min(sh.doc_id) AS min_doc, max(sh.doc_id) AS max_doc,
       |  bit_xor(h.h) AS checksum
       |FROM sh JOIN h ON h.doc_id = sh.doc_id
       |GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q98
  /** q98: snapshot diff — the dataset-versioning audit between two
    * corpus snapshots: FULL OUTER join on the document key, compare
    * content hashes, classify added / removed / changed / unchanged,
    * and emit per-status counts plus an order-independent key checksum
    * (the q84 XOR idiom) so one 4-row diff certifies WHICH keys moved,
    * not just how many. The operator [[snapshotDiffOn]] takes any two
    * (key, h) frames — run it between consecutive crawl drops or
    * before/after a pipeline change to see the blast radius.
    *
    * The registered query derives both snapshots deterministically from
    * `documents` (v1 drops doc_id ≡ 0 mod 17; v2 drops ≡ 0 mod 19 and
    * uppercases ≡ 0 mod 13), so every status class is non-empty at
    * every scale factor.
    *
    * Scale: one key-partitioned full-outer join (both sides shuffle on
    * the key once) into a 4-row aggregate — no data-sized state, no
    * driver collect. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hashing
    val docs = documents(s, d).select(col("doc_id").as("key"), col("text"))
    val prev = docs.filter(col("key") % 17 =!= 0)
      .select(col("key"), Hashing.h60(col("text")).as("h"))
    val next = docs.filter(col("key") % 19 =!= 0)
      .select(col("key"), Hashing.h60(
        when(col("key") % 13 === 0, upper(col("text")))
          .otherwise(col("text"))).as("h"))
    snapshotDiffOn(prev, next).orderBy(col("status"))
  }

  /** q98 over arbitrary (key, h) snapshots. */
  def snapshotDiffOn(prev: DataFrame, next: DataFrame): DataFrame = {
    import graft.functions.Hashing
    prev.select(col("key"), col("h").as("h_prev"))
      .join(next.select(col("key"), col("h").as("h_next")),
        Seq("key"), "full_outer")
      .select(col("key"),
        when(col("h_prev").isNull, lit("added"))
          .when(col("h_next").isNull, lit("removed"))
          .when(col("h_prev") === col("h_next"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        expr(s"bit_xor(${Hashing.h60SparkSql("key")})").as("key_checksum"))
  }

  val snapshotDiffSql: String = {
    import graft.functions.Hashing
    s"""WITH p AS (
       |  SELECT doc_id AS key, ${Hashing.h60Sql("text")} AS h
       |  FROM documents WHERE doc_id % 17 <> 0),
       |nx AS (
       |  SELECT doc_id AS key,
       |    ${Hashing.h60Sql(
            "CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END")} AS h
       |  FROM documents WHERE doc_id % 19 <> 0),
       |j AS (
       |  SELECT coalesce(p.key, nx.key) AS key,
       |    CASE WHEN p.h IS NULL THEN 'added'
       |         WHEN nx.h IS NULL THEN 'removed'
       |         WHEN p.h = nx.h THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM p FULL OUTER JOIN nx ON p.key = nx.key)
       |SELECT status, count(*) AS n,
       |  bit_xor(${Hashing.h60Sql("key")}) AS key_checksum
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q111
  /** Vocabulary cap for q111 (the top-V truncation every real
    * tokenizer applies). */
  val VocabTopV = 20

  /** q111: frequency-ordered vocabulary encoding — the tokenizer-prep
    * pass: global token counts (shared [[Text.toksExpr]] tokenizer),
    * the top-[[VocabTopV]] tokens assigned dense ids 0..V−1 by
    * (count desc, token asc), plus each prefix's cumulative corpus
    * coverage — the curve that decides where to cut a vocab.
    *
    * Scale: the count aggregate map-side combines to vocabulary-sized
    * state; the top-V is a TakeOrdered (O(V) per partition, never a
    * global sort); the id/coverage windows run over the V-row frame
    * only; the corpus-wide token total is ONE scalar broadcast back.
    * Deterministic ties (token asc) keep the cut and the ids identical
    * in both engines. */
  def vocabEncode(s: SparkSession, d: String): DataFrame =
    vocabEncodeOn(documents(s, d)).orderBy(col("id"))

  /** q111 over a caller-supplied (doc_id, text) corpus. */
  def vocabEncodeOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(expr(Text.toksExpr)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("total_tokens"))
    // global window — BOUNDED by the literal [[VocabTopV]]: it runs
    // ABOVE the orderBy(...).limit(VocabTopV) below (a distributed
    // TakeOrdered, never a single-task sort of the vocabulary), so
    // its single-partition input is ≤ V rows at any corpus size.
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    counts.orderBy(col("cnt").desc, col("token").asc).limit(VocabTopV)
      .crossJoin(broadcast(totals)) // 1-row scalar frame
      .withColumn("id", row_number().over(w) - 1)
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("id"), col("token"), col("cnt"),
        (floor(col("cum").cast("double") / col("total_tokens")
          .cast("double") * 1e6 + 0.5) / 1e6).as("coverage"))
  }

  val vocabEncodeSql: String =
    s"""WITH counts AS (
       |  SELECT token, count(*) AS cnt FROM (
       |    SELECT unnest(${Text.toksSqlExpr}) AS token FROM documents)
       |  GROUP BY 1),
       |totals AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM counts),
       |top AS (
       |  SELECT token, cnt FROM counts
       |  ORDER BY cnt DESC, token LIMIT $VocabTopV),
       |ranked AS (
       |  SELECT token, cnt,
       |    CAST(row_number() OVER w - 1 AS INT) AS id,
       |    CAST(sum(cnt) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS cum
       |  FROM top
       |  WINDOW w AS (ORDER BY cnt DESC, token))
       |SELECT id, token, cnt,
       |  floor(CAST(cum AS DOUBLE) / CAST(total_tokens AS DOUBLE)
       |    * 1e6 + 0.5) / 1e6 AS coverage
       |FROM ranked CROSS JOIN totals
       |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q113
  /** Containment threshold for q113 (the "eval doc is substantially
    * inside this training doc" bar; the sf0.01 distribution is cleanly
    * bimodal — near-dups sit at ≥ 0.87, background noise at ≤ 0.03). */
  val ContainMin = 0.5

  /** q113: containment decontamination — the graded upgrade of q66's
    * binary any-shared-gram flag: for each (eval doc, corpus doc)
    * candidate pair, the fraction of the EVAL doc's distinct
    * [[DecontamN]]-grams that appear in the corpus doc
    * (|A∩B| / |A| — asymmetric containment, the metric real
    * decontamination uses, since a 100-word benchmark item pasted into
    * a 10k-word page has tiny Jaccard but containment ≈ 1). Pairs at
    * ≥ [[ContainMin]] are reported with their gram counts.
    *
    * Scale shape is q66's: the eval side is benchmark-sized, so its
    * per-doc distinct gram sets BROADCAST; the corpus side is one
    * explode + per-doc distinct + map-side hash join, and only hit
    * pairs reach the pair-keyed aggregate. The ratio is one
    * integer-exact division pushed through the floor-half-up idiom. */
  def containmentDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    containmentOn(docs.filter(col("doc_id") >= DecontamEvalMax),
      docs.filter(col("doc_id") < DecontamEvalMax))
      .orderBy(col("eval_id"), col("doc_id"))
  }

  /** q113 over caller-supplied corpus and eval-set DataFrames (both
    * (doc_id, text)). */
  def containmentOn(corpus: DataFrame, evalDocs: DataFrame): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col("doc_id"), expr(Text.toksExpr).as("toks"))
      .select(col("doc_id"),
        explode(expr(Text.ngramExpr("toks", DecontamN))).as("g"))
      .distinct()
    val ev = grams(evalDocs)
      .select(col("doc_id").as("eval_id"), col("g"))
      .localCheckpoint() // kept: 2 readers; 4% slower at sf0.1 without it
    val evSizes = ev.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_eval_grams"))
    grams(corpus)
      .join(broadcast(ev), Seq("g"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits")) // distinct by construction
      .join(broadcast(evSizes), Seq("eval_id"))
      .withColumn("containment",
        floor(col("n_hits").cast("double") /
          col("n_eval_grams").cast("double") * 1e6 + 0.5) / 1e6)
      .filter(col("containment") >= ContainMin)
      .select(col("eval_id"), col("doc_id"), col("n_hits"),
        col("n_eval_grams"), col("containment"))
  }

  val containmentDecontamSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.toksSqlExpr} AS toks
       |           FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |        unnest(${Text.ngramSqlExpr("toks", DecontamN)}) AS g
       |      FROM t),
       |ev AS (SELECT doc_id AS eval_id, g FROM g
       |       WHERE doc_id < $DecontamEvalMax),
       |evs AS (SELECT eval_id, count(*) AS n_eval_grams
       |        FROM ev GROUP BY 1),
       |hits AS (
       |  SELECT ev.eval_id, g.doc_id, count(*) AS n_hits
       |  FROM g JOIN ev ON ev.g = g.g
       |  WHERE g.doc_id >= $DecontamEvalMax
       |  GROUP BY 1, 2)
       |SELECT h.eval_id, h.doc_id, h.n_hits, evs.n_eval_grams,
       |  floor(CAST(h.n_hits AS DOUBLE) / CAST(evs.n_eval_grams AS DOUBLE)
       |    * 1e6 + 0.5) / 1e6 AS containment
       |FROM hits h JOIN evs ON evs.eval_id = h.eval_id
       |WHERE floor(CAST(h.n_hits AS DOUBLE)
       |    / CAST(evs.n_eval_grams AS DOUBLE) * 1e6 + 0.5) / 1e6
       |  >= $ContainMin
       |ORDER BY h.eval_id, h.doc_id""".stripMargin

  // --------------------------------------------------------------- q114
  /** q114: per-source token-distribution drift — Pearson chi-square of
    * each source's token distribution against the corpus-wide one, the
    * FP-safe alternative to KL/JS (no transcendental whose last ulp
    * differs between engines: terms are (obs−exp)²/exp, built from
    * identically-written double arithmetic). Cross-engine-exact sum:
    * each term is INTEGERIZED (floor(term·1e6 + 0.5) as BIGINT) before
    * summing, so the reduction is an order-independent integer sum —
    * the same trick as q84's XOR checksum, trading a bounded 1e-6
    * quantization for bit-exactness under any partial-agg order.
    *
    * The (source × vocab) grid is built explicitly so ABSENT tokens
    * contribute their expected-count term (obs = 0) — grid size is
    * #sources × vocab, summary-sized at any corpus scale; the only
    * corpus-sized work is the (source, token) count, which map-side
    * combines. Reports each source's scaled chi-square and its top
    * drift-contributing token (deterministic argmax). */
  def sourceDrift(s: SparkSession, d: String): DataFrame =
    sourceDriftOn(documents(s, d)).orderBy(col("source"))

  /** q114 over a caller-supplied (source, text) corpus. */
  def sourceDriftOn(docs: DataFrame): DataFrame = {
    val obs = docs
      .select(col("source"), explode(expr(Text.toksExpr)).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("obs"))
    val bySource = obs.groupBy(col("source"))
      .agg(sum(col("obs")).as("n_source"))
    val byToken = obs.groupBy(col("token"))
      .agg(sum(col("obs")).as("tot_token"))
    val totals = bySource.agg(sum(col("n_source")).as("n_total"))
    val grid = bySource.crossJoin(byToken) // sources × vocab — bounded
      .join(obs, Seq("source", "token"), "left_outer")
      .select(col("source"), col("token"), col("n_source"),
        col("tot_token"), coalesce(col("obs"), lit(0L)).as("obs"))
      .crossJoin(broadcast(totals))
    val expd = col("n_source").cast("double") *
      col("tot_token").cast("double") / col("n_total").cast("double")
    val term = (col("obs").cast("double") - expd) *
      (col("obs").cast("double") - expd) / expd
    grid
      .select(col("source"), col("token"), col("n_source"),
        floor(term * 1e6 + 0.5).cast("long").as("term_1e6"))
      .groupBy(col("source"))
      .agg(max(col("n_source")).as("n_tokens"),
        sum(col("term_1e6")).as("chi2_1e6"),
        min(struct((-col("term_1e6")).as("neg"), col("token")))
          .getField("token").as("top_token"))
  }

  val sourceDriftSql: String =
    s"""WITH obs AS (
       |  SELECT source, token, count(*) AS obs FROM (
       |    SELECT source, unnest(${Text.toksSqlExpr}) AS token
       |    FROM documents)
       |  GROUP BY 1, 2),
       |bys AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_source
       |        FROM obs GROUP BY 1),
       |byt AS (SELECT token, CAST(sum(obs) AS BIGINT) AS tot_token
       |        FROM obs GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_source) AS BIGINT) AS n_total FROM bys),
       |grid AS (
       |  SELECT s.source, t.token, s.n_source, t.tot_token,
       |    coalesce(o.obs, 0) AS obs
       |  FROM bys s CROSS JOIN byt t
       |  LEFT JOIN obs o ON o.source = s.source AND o.token = t.token),
       |terms AS (
       |  SELECT source, token, n_source,
       |    CAST(floor(
       |      (CAST(obs AS DOUBLE) - CAST(n_source AS DOUBLE)
       |        * CAST(tot_token AS DOUBLE) / CAST(n_total AS DOUBLE))
       |      * (CAST(obs AS DOUBLE) - CAST(n_source AS DOUBLE)
       |        * CAST(tot_token AS DOUBLE) / CAST(n_total AS DOUBLE))
       |      / (CAST(n_source AS DOUBLE) * CAST(tot_token AS DOUBLE)
       |        / CAST(n_total AS DOUBLE))
       |      * 1e6 + 0.5) AS BIGINT) AS term_1e6
       |  FROM grid CROSS JOIN tot),
       |ranked AS (
       |  SELECT source, token, n_source, term_1e6,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY term_1e6 DESC, token) AS rn
       |  FROM terms)
       |SELECT t.source, max(t.n_source) AS n_tokens,
       |  CAST(sum(t.term_1e6) AS BIGINT) AS chi2_1e6,
       |  max(CASE WHEN t.rn = 1 THEN t.token END) AS top_token
       |FROM ranked t GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q116
  /** q116: per-source quality profile — where each source's documents
    * land in the GLOBAL quality distribution: global quartile
    * boundaries (computed once, broadcast), then per (source, global
    * quartile) doc counts and within-source fractions. The
    * cross-source calibration read-out: a source whose mass sits in
    * the bottom global quartile gets down-weighted or re-cleaned
    * before mixing (q69/q83 consume exactly this kind of signal).
    *
    * Cross-engine exactness: quantiles interpolate over the INTEGER
    * quality key qk = floor(quality·1e4 + 0.5) at dyadic fractions —
    * integer data + dyadic p make `percentile`/`quantile_cont` agree
    * bit-for-bit (the q81 trick) where interpolating raw doubles could
    * differ in the last ulp. The fraction window runs over the ≤ 4
    * rows per source of the aggregated matrix, never over documents. */
  def qualityProfile(s: SparkSession, d: String): DataFrame =
    qualityProfileOn(documents(s, d))
      .orderBy(col("source"), col("quartile"))

  /** q116 over a caller-supplied (doc_id, source, text) corpus. */
  def qualityProfileOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), col("source"))
      .join(Text.docQualityOn(docs).select(col("doc_id"), col("quality")),
        "doc_id")
      .select(col("source"),
        floor(col("quality") * 1e4 + 0.5).cast("long").as("qk"))
      .localCheckpoint() // kept: 2 readers; 30% slower at sf0.1 without it
    val b = t.agg(
      expr("percentile(qk, 0.25D)").as("b1"),
      expr("percentile(qk, 0.5D)").as("b2"),
      expr("percentile(qk, 0.75D)").as("b3"))
    t.crossJoin(broadcast(b)) // 1-row boundary frame
      .withColumn("quartile",
        (lit(1) + (col("qk") > col("b1")).cast("int")
          + (col("qk") > col("b2")).cast("int")
          + (col("qk") > col("b3")).cast("int")).cast("long"))
      .groupBy(col("source"), col("quartile"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac", floor(col("n_docs").cast("double") /
        sum(col("n_docs")).over(Window.partitionBy(col("source")))
          .cast("double") * 1e4 + 0.5) / 1e4)
  }

  val qualityProfileSql: String =
    s"""WITH q AS (SELECT doc_id, quality FROM (${Text.docQualitySql})),
       |t AS (SELECT d.source,
       |        CAST(floor(q.quality * 1e4 + 0.5) AS BIGINT) AS qk
       |      FROM documents d JOIN q ON q.doc_id = d.doc_id),
       |b AS (SELECT quantile_cont(qk, 0.25) AS b1,
       |        quantile_cont(qk, 0.5) AS b2,
       |        quantile_cont(qk, 0.75) AS b3 FROM t),
       |m AS (
       |  SELECT source,
       |    CAST(1 + (qk > b1)::int + (qk > b2)::int + (qk > b3)::int
       |      AS BIGINT) AS quartile,
       |    count(*) AS n_docs
       |  FROM t, b GROUP BY 1, 2)
       |SELECT source, quartile, n_docs,
       |  floor(CAST(n_docs AS DOUBLE)
       |    / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE)
       |    * 1e4 + 0.5) / 1e4 AS frac
       |FROM m ORDER BY source, quartile""".stripMargin

  // --------------------------------------------------------------- q132
  /** q132: token-weighted quality median per source — "the quality of
    * the median TOKEN, not the median document": long documents weigh
    * proportionally, the statistic a mixture tuner actually wants
    * (document-median overweights short docs). Exact and
    * cross-engine-stable with NO sort of the corpus: per (source,
    * integer quality key) token-weight sums — state bounded by the
    * quality grid per source — then a cumulative window over that
    * bounded grid picks the lower weighted median by the integer test
    * 2·cum ≥ total. All arithmetic integral until the final /1e4. */
  def weightedMedianQuality(s: SparkSession, d: String): DataFrame =
    weightedMedianQualityOn(documents(s, d)).orderBy(col("source"))

  /** q132 over a caller-supplied (doc_id, source, text) corpus. */
  def weightedMedianQualityOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col("doc_id"), col("source"),
        size(expr(Text.toksExpr)).cast("long").as("w"))
      .join(Text.docQualityOn(docs).select(col("doc_id"), col("quality")),
        "doc_id")
      .select(col("source"),
        floor(col("quality") * 1e4 + 0.5).cast("long").as("qk"),
        col("w"))
      .groupBy(col("source"), col("qk"))
      .agg(sum(col("w")).as("wsum")) // grid-bounded state per source
    val wTot = Window.partitionBy(col("source"))
    val wCum = wTot.orderBy(col("qk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t.withColumn("cum", sum(col("wsum")).over(wCum))
      .withColumn("total", sum(col("wsum")).over(wTot))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy(col("source"))
      .agg(min(col("qk")).as("qk"), max(col("total")).as("total_tokens"))
      .select(col("source"), (col("qk").cast("double") / 1e4)
        .as("weighted_median_quality"), col("total_tokens"))
  }

  val weightedMedianQualitySql: String =
    s"""WITH q AS (SELECT doc_id, quality FROM (${Text.docQualitySql})),
       |t AS (
       |  SELECT d.source,
       |    CAST(floor(q.quality * 1e4 + 0.5) AS BIGINT) AS qk,
       |    CAST(len(${Text.toksSqlExpr}) AS BIGINT) AS w
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id),
       |g AS (SELECT source, qk, CAST(sum(w) AS BIGINT) AS wsum
       |      FROM t GROUP BY 1, 2),
       |c AS (
       |  SELECT source, qk, wsum,
       |    CAST(sum(wsum) OVER (PARTITION BY source ORDER BY qk
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(wsum) OVER (PARTITION BY source) AS BIGINT) AS total
       |  FROM g)
       |SELECT source,
       |  CAST(min(qk) AS DOUBLE) / 1e4 AS weighted_median_quality,
       |  max(total) AS total_tokens
       |FROM c WHERE cum * 2 >= total
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q145
  /** Shard counts the q145 rendezvous assignment compares. */
  val HrwShardsOld = 8
  val HrwShardsNew = 9

  /** q145: rendezvous (highest-random-weight) sharding — the STABLE
    * shard-assignment primitive a multi-epoch corpus needs: each doc
    * goes to argmax over shards of h60(doc_id "|" shard), so growing
    * the fleet from [[HrwShardsOld]] to [[HrwShardsNew]] shards moves
    * ONLY the keys the new shard wins (expected 1/new of the corpus),
    * never a modulo-rehash of everything. The output makes the
    * minimal-disruption property a HASH-CHECKED INVARIANT, not a
    * comment: per new-shard (n_docs, n_moved), where n_moved must be 0
    * for every surviving shard and equal to n_docs for the added
    * shard — the oracle replays the full double assignment, so any
    * drift in the hash, the argmax tie-break, or the stability
    * property itself fails the gate.
    *
    * Scale: 9 portable hashes per key map-side, one doc-keyed
    * max-of-struct aggregate (partial-agg friendly), #shards output
    * rows. The deterministic complement of q67's sequential
    * token-budget shards: q67 packs a training run, q145 places keys
    * for serving/storage where assignment stability across resizes is
    * the point. */
  def rendezvousShards(s: SparkSession, d: String): DataFrame = {
    val h = graft.functions.Hashing
      .h60SparkSql(s"concat(CAST(doc_id AS STRING), '|', CAST(s AS STRING))")
    val asg = documents(s, d).select(col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${HrwShardsNew - 1})")).as("s"))
      // argmax key with the shard id embedded in the low 4 bits —
      // h60 collisions across a doc's candidates are ~2^-55 but the
      // +s term makes the order TOTAL, so both engines break any tie
      // identically; (h div 16)*16 + s < 2^60 — no int64 overflow
      .withColumn("k", expr(s"(($h) div 16) * 16 + s"))
      .groupBy(col("doc_id"))
      .agg(
        expr(s"max_by(s, CASE WHEN s < $HrwShardsOld THEN k END)")
          .as("shard_old"),
        expr("max_by(s, k)").as("shard_new"))
    asg.groupBy(col("shard_new"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("shard_old") =!= col("shard_new")).cast("long"))
          .as("n_moved"))
      .orderBy(col("shard_new"))
  }

  val rendezvousShardsSql: String = {
    val h = graft.functions.Hashing
      .h60Sql(s"doc_id || '|' || s")
    s"""WITH cand AS (
       |  SELECT doc_id, s, (($h) // 16) * 16 + s AS k
       |  FROM documents
       |  CROSS JOIN (SELECT unnest(generate_series(0,
       |    ${HrwShardsNew - 1})) AS s)),
       |asg AS (
       |  SELECT doc_id,
       |    max_by(s, CASE WHEN s < $HrwShardsOld THEN k END) AS shard_old,
       |    max_by(s, k) AS shard_new
       |  FROM cand GROUP BY 1)
       |SELECT shard_new, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN shard_old <> shard_new THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_moved
       |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q145_rendezvous_shards" -> (rendezvousShards _),
    "q148_pack_sequences" -> (packSequences _),
    "q132_weighted_median" -> (weightedMedianQuality _),
    "q116_quality_profile" -> (qualityProfile _),
    "q113_containment" -> (containmentDecontam _),
    "q114_source_drift" -> (sourceDrift _),
    "q111_vocab_encode" -> (vocabEncode _),
    "q98_snapshot_diff" -> (snapshotDiff _),
    "q86_train_pipeline" -> (trainPipeline _),
    "q84_shard_manifest" -> (shardManifest _),
    "q85_source_gram_overlap" -> (sourceGramOverlap _),
    "q80_leakage_split" -> (leakageSplit _),
    "q81_curriculum" -> (lengthCurriculum _),
    "q83_mixture_weights" -> (mixtureWeights _),
    "q61_corpus_prep" -> (corpusPrep _),
    "q62_source_report" -> (sourceReport _),
    "q65_dup_clusters" -> (dupClusters _),
    "q66_decontaminate" -> (decontaminate _),
    "q67_token_shards" -> (tokenShards _),
    "q68_quality_sample" -> (qualitySample _),
    "q69_source_mixture" -> (sourceMixture _))

  val oracle: Map[String, String] = Map(
    "q145_rendezvous_shards" -> rendezvousShardsSql,
    "q148_pack_sequences" -> packSequencesSql,
    "q132_weighted_median" -> weightedMedianQualitySql,
    "q116_quality_profile" -> qualityProfileSql,
    "q113_containment" -> containmentDecontamSql,
    "q114_source_drift" -> sourceDriftSql,
    "q111_vocab_encode" -> vocabEncodeSql,
    "q98_snapshot_diff" -> snapshotDiffSql,
    "q86_train_pipeline" -> trainPipelineSql,
    "q84_shard_manifest" -> shardManifestSql,
    "q85_source_gram_overlap" -> sourceGramOverlapSql,
    "q80_leakage_split" -> leakageSplitSql,
    "q81_curriculum" -> lengthCurriculumSql,
    "q83_mixture_weights" -> mixtureWeightsSql,
    "q61_corpus_prep" -> corpusPrepSql,
    "q62_source_report" -> sourceReportSql,
    "q65_dup_clusters" -> dupClustersSql,
    "q66_decontaminate" -> decontaminateSql,
    "q67_token_shards" -> tokenShardsSql,
    "q68_quality_sample" -> qualitySampleSql,
    "q69_source_mixture" -> sourceMixtureSql)
}
