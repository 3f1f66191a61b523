package graft.graph

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag
import graft.Tables._

/** Graph analytics over the co-purchase graph — the Spark-native form of
  * the reference's co-review graph (Assignment4/task1.py:28-60):
  * customers are vertices; an undirected edge joins two customers whose
  * distinct purchased-part sets overlap by ≥ threshold.
  *
  * The edge build is the J2 shape done right: explode to (custkey,
  * partkey), self-equi-join on partkey, count per pair — a shuffle join,
  * never the reference's O(V²) driver loop (task1.py:32-47). At 100 TB
  * the join keys are parts: per-key fan-out is bounded by the
  * [[MaxSourceDf]] cap (a key with f rows emits f² pairs — the cap
  * removes the pathological keys before the join; AQE skew splitting
  * handles the merely-uneven rest); everything downstream operates on
  * the edge list, which is orders of magnitude smaller than the input.
  *
  * LPA, connected components, PageRank, personalized PageRank and the
  * k-core peel are Pregel supersteps (Malewicz et al., SIGMOD 2010) on
  * one persisted, hash-partitioned [[adjacency]], and the star
  * contraction rewrites neighbour sets of that same shape, with explicit
  * deterministic tie-breaks (count desc, label asc) — unlike library
  * LPA implementations whose hash-order ties defeat replay. The DuckDB
  * oracle replays LPA exactly (unrolled iterations) and CC via a
  * recursive CTE, so even the iterative graph operators are
  * hash-verified, not rows-only.
  */
object Graphs {

  /** Full-graph edge threshold (shared distinct parts). */
  val EdgeThreshold = 5
  /** Skew guard: a part bought by f distinct customers emits O(f²)
    * candidate pairs in the self-join — one ubiquitous part at 100×
    * data (f ≈ 10⁶) would emit 10¹² pairs from a single join key and
    * stall the stage. Parts with df above this cap are excluded from
    * the edge build BEFORE the join, the standard co-occurrence-mining
    * guard (ubiquitous items carry no pair signal — the market-basket
    * stop-word rule). The cap sits far above the testdata's max df
    * (53 at sf0.1) so results here are unchanged, and the SQL oracle
    * applies the same cap, so Spark and oracle agree at EVERY scale,
    * not just the tested ones. */
  val MaxSourceDf = 1000
  /** Subgraph: nations < 5, threshold 4 — the bounded graph for the
    * triangle, LPA, CC and rank queries. It shrinks as the data grows:
    * a customer buys ~35–40 distinct parts at every scale while the
    * part catalogue grows with the data (200 / 2,000 / 20,000 parts at
    * sf0.001 / 0.01 / 0.1), so two customers' expected overlap falls
    * 10× per decade, and ≥ 4 shared parts turns rare faster than the
    * customer pairs multiply: 28 / 306 / 3,036 customers, but 248 /
    * 647 / 19 edges on 27 / 241 / 37 nodes (diag/pr10/subgraph_by_sf.txt). */
  val SubNations = 5
  val SubThreshold = 4
  val LpaIters = 5

  /** Distinct (custkey, partkey) purchases, optionally nation-bounded. */
  private[graft] def custParts(s: SparkSession, d: String, maxNation: Option[Int])
  : DataFrame = {
    val base = orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
    val bounded = maxNation.fold(base)(n =>
      base.join(
        broadcast(customer(s, d).filter(col("c_nationkey") < n)
          .select(col("c_custkey").as("ck"))), Seq("ck")))
    // one pk-exchange for the whole cp build (guide §2.4): the dedup
    // and the df-cap window that follows ([[capBySourceDf]]) both
    // accept a pk clustering, so exchanging ONCE on pk here lets the
    // distinct run post-shuffle and the window inherit the layout —
    // the stock plan exchanged twice ((ck,pk) for the distinct, pk
    // again for the window). The trade is the dedup moving above the
    // exchange (no map-side partial dedup): raw (ck,pk) carries ~1.1×
    // the deduped rows on this data — measured far under one
    // exchange's worth. Skew unchanged: a hot pk already landed whole
    // in one window partition.
    bounded.repartition(col("pk")).distinct()
  }

  /** Drop join keys whose fan-out exceeds `maxDf` — the pre-join skew
    * guard for the f² self-join. One window on the join key; Catalyst
    * reuses its hash-partitioning exchange for the self-join that
    * follows, so the guard costs no extra shuffle. */
  private[graft] def capBySourceDf(cp: DataFrame, maxDf: Int): DataFrame =
    cp.withColumn("_df",
        count(lit(1)).over(Window.partitionBy(col("pk"))))
      .filter(col("_df") <= maxDf)
      .drop("_df")

  /** Canonical undirected edges (src < dst). */
  def edges(s: SparkSession, d: String, maxNation: Option[Int], thr: Int)
  : DataFrame = {
    // kept: 3 readers, the pair-mass job + both self-join sides; the
    // scan→join→distinct→window subtree would run once per reader.
    val cp = capBySourceDf(custParts(s, d, maxNation), MaxSourceDf)
      .localCheckpoint()
    // Exact pair mass, memoized per (dataset, nation cap) so a
    // session's 2–4 edge-list consumers pay the one-aggregate local
    // scan once. Deliberately measured for nation-bounded subgraphs
    // too (ADVICE r14): "bounded" is a constant FRACTION of
    // customers, not a constant size — the guard stays armed at any
    // corpus scale, and the memoized estimate costs one local-scan
    // job per session key.
    val mass = graft.Memo.scalarOf[java.lang.Long](s, d,
      s"edges_pair_mass_${maxNation.getOrElse(-1)}")(
      Long.box(pairMass(cp))).longValue
    edgesFromCp(cp, thr, mass)
  }

  /** Exact (src,dst) pair mass of the pk self-join: a key with f
    * distinct sources emits f(f−1)/2 canonical pairs into the
    * shared-count aggregate. One aggregate over the CHECKPOINTED cp —
    * a local scan, the same cost class as the LSH volume-gate
    * estimate. */
  private[graft] def pairMass(cp: DataFrame): Long = {
    val r = cp.groupBy(col("pk")).agg(count(lit(1)).as("f"))
      .agg(coalesce(sum(col("f") * (col("f") - lit(1))), lit(0L))
        .cast("long")).first()
    (if (r.isNullAt(0)) 0L else r.getLong(0)) / 2
  }

  /** The edge build over a prebuilt cp, volume-gated like the CF
    * scoring shuffle (Recommend.sizedByCardinality): BELOW the
    * narrow-pair guard the stock plan stands — partial aggregation at
    * the session layout, the proven plan at every oracle SF. PAST it
    * the pair stream is clustered by (src,dst) at cardinality-scaled
    * parallelism BEFORE the aggregate, so per-task hash state stays
    * in memory: at the 100× corpus the ungated aggregate put 28M pair
    * rows under each of 32 fixed partitions and spilled 82 GiB per
    * aggregate pass (diag/r14/q33probe_100x_pre.out) — the same
    * defect shape the CF chain's gate closed in r11, cured the same
    * way. Pair rows are two longs, so the guard is the dedup family's
    * narrow-row bound, not the CF wide-row one. Test seam: specs pass
    * `mass` directly to pin both regimes. */
  private[graft] def edgesFromCp(cp: DataFrame, thr: Int, mass: Long)
  : DataFrame =
    graft.mining.Recommend.sizedByCardinality(
      cp.select(col("ck").as("src"), col("pk"))
        .join(cp.select(col("ck").as("dst"), col("pk")), Seq("pk"))
        .filter(col("src") < col("dst")),
      mass, graft.mining.SetSimilarity.PairDedupGuardRowsPerTask,
      col("src"), col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= thr)
      .select(col("src"), col("dst"))

  /** Both-direction edges (neighbor expansion). */
  private def undirected(ed: DataFrame): DataFrame =
    ed.select(col("src"), col("dst"))
      .unionByName(ed.select(col("dst").as("src"), col("src").as("dst")))

  /** node → its neighbours, hash-partitioned on node. */
  private[graft] type Adjacency = RDD[(Long, Array[Long])]

  /** The undirected adjacency of an edge frame: one row per node with
    * its neighbours in both directions (a pair counts once, whether the
    * frame is canonical or lists both directions), so the keys are the
    * node roster and each array's length is the degree. Partitioned at
    * the session's shuffle width and persisted once: every superstep
    * joins its state narrowly against it, so edges never move again. */
  private[graft] def adjacency(ed: DataFrame): Adjacency =
    linked(ed.select(col("src"), col("dst")).queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1))),
      new HashPartitioner(
        ed.sparkSession.sessionState.conf.numShufflePartitions))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Each edge in both directions, grouped into `p` with a neighbour
    * listed once: the one grouping routine, shared by [[adjacency]] and
    * every star-contraction step. */
  private def linked(es: RDD[(Long, Long)], p: Partitioner): Adjacency =
    es.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .groupByKey(p)
      .mapValues(_.toArray.distinct)

  /** Pregel supersteps (Malewicz et al., SIGMOD 2010) over `adj`, from
    * one `init` state per node on the adjacency's partitioner. In each,
    * a node's state meets its neighbours in a narrow join, `send` emits
    * its messages, `merge` combines them map-side and after the one
    * shuffle into that partitioner, and `update` folds the node's inbox
    * (None when nothing arrived) into its next state. The node's own
    * state rides the same shuffle, so a task's lineage ends at the
    * previous round: a narrow state-to-state chain grows a level per
    * round, and deserializing it overflowed the stack on a 120-node
    * path. Each round is persisted and runs ONE job, counting its
    * `flagged` states, then drops the round before it; rounds go on
    * while `more(rounds, count)`. Returns (states, rounds, count). */
  private def pregel[S: ClassTag, M: ClassTag](adj: Adjacency,
      init: (Long, Array[Long]) => S)(
      send: (Array[Long], S) => Iterator[(Long, M)], merge: (M, M) => M)(
      update: (S, Option[M]) => S)(
      flagged: S => Boolean, more: (Int, Long) => Boolean)
  : (RDD[(Long, S)], Int, Long) = {
    val p = adj.partitioner.get
    var state = adj.mapPartitions(_.map { case (v, nbrs) =>
      (v, init(v, nbrs)) }, preservesPartitioning = true)
    var (rounds, count) = (0, 0L)
    while (rounds == 0 || more(rounds, count)) {
      val next = adj.join(state, p)
        .flatMap { case (v, (nbrs, s)) =>
          Iterator((v, (Option(s), Option.empty[M]))) ++ send(nbrs, s)
            .map { case (u, m) => (u, (Option.empty[S], Option(m))) }
        }
        .reduceByKey(p, (a, b) =>
          (a._1.orElse(b._1), (a._2 ++ b._2).reduceOption(merge)))
        .mapValues { case (s, m) => update(s.get, m) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      count = next.filter { case (_, s) => flagged(s) }.count()
      state.unpersist()
      state = next
      rounds += 1
    }
    (state, rounds, count)
  }

  private def cpSql(maxNation: Option[Int]): String = {
    val where = maxNation.fold("")(n =>
      s"""WHERE o_custkey IN (SELECT c_custkey FROM customer
         |    WHERE c_nationkey < $n)""".stripMargin)
    s"""cp AS MATERIALIZED (
       |  SELECT ck, pk FROM (
       |    SELECT ck, pk, count(*) OVER (PARTITION BY pk) AS df FROM (
       |      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |      $where))
       |  WHERE df <= $MaxSourceDf),""".stripMargin
  }

  private[graft] def edgesSql(maxNation: Option[Int], thr: Int): String =
    s"""${cpSql(maxNation)}
       |ed AS MATERIALIZED (
       |  SELECT a.ck AS src, b.ck AS dst
       |  FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
       |  GROUP BY 1, 2 HAVING count(*) >= $thr),
       |ue AS MATERIALIZED (
       |  SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)""".stripMargin

  // ---------------------------------------------------------------- q33
  /** q33: degree histogram of the full co-purchase graph — (degree,
    * n_customers). The heavy edge build runs over all customers; the
    * result is histogram-sized regardless of scale. */
  def degreeHist(s: SparkSession, d: String): DataFrame =
    // kept: 2 readers (`undirected`); without it each reruns the pair
    // aggregate's final pass (35% slower at sf0.1)
    degreeHistFromEdges(edges(s, d, None, EdgeThreshold).localCheckpoint())
      .orderBy(col("degree"))

  /** q33's histogram tail over a prebuilt edge list — the ONE
    * definition both the registered query and the 100× scale probe
    * (graft.StageProbe) measure, so the probe can never drift from
    * the production plan (ADVICE r14). */
  private[graft] def degreeHistFromEdges(ed: DataFrame): DataFrame =
    undirected(ed)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_customers"))

  val degreeHistSql: String =
    s"""WITH ${edgesSql(None, EdgeThreshold)},
       |deg AS (SELECT src, count(*) AS degree FROM ue GROUP BY 1)
       |SELECT degree, count(*) AS n_customers
       |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q34
  /** q34: triangle count on the bounded subgraph — canonical-edge 3-way
    * self-join (a<b<c counts each triangle once). */
  def triangles(s: SparkSession, d: String): DataFrame = {
    // kept: 3 readers; 15% slower at sf0.1 without it (as q33)
    val ed = edges(s, d, Some(SubNations), SubThreshold).localCheckpoint()
    val e1 = ed.select(col("src").as("a"), col("dst").as("b"))
    val e2 = ed.select(col("src").as("b"), col("dst").as("c"))
    val e3 = ed.select(col("src").as("a"), col("dst").as("c"))
    e1.join(e2, "b").join(e3, Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val trianglesSql: String =
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)}
       |SELECT count(*) AS n_triangles
       |FROM ed e1 JOIN ed e2 ON e2.src = e1.dst
       |           JOIN ed e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin

  // ---------------------------------------------------------------- q35
  /** q35: Label Propagation communities, 5 synchronous iterations
    * (reference maxIter = 5, Assignment4/task1.py:64-65), deterministic
    * tie-break (highest neighbor-label count, then smallest label).
    * Each iteration is one superstep: every node sends its label to its
    * neighbours and takes the winner of the labels it received. */
  def lpa(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lpaLabels(adjacency(edges(s, d, Some(SubNations), SubThreshold)))
      .toDF("node", "lbl").orderBy(col("node"))
  }

  /** [[LpaIters]] rounds; each node's label counts are its inbox. */
  private[graft] def lpaLabels(adj: Adjacency): RDD[(Long, Long)] =
    pregel(adj, (v, _) => v)(
      (nbrs, l) => nbrs.iterator.map((_, Map(l -> 1L))),
      (a: Map[Long, Long], b: Map[Long, Long]) => b.foldLeft(a) {
        case (m, (l, c)) => m.updated(l, m.getOrElse(l, 0L) + c) })(
      (l, counts) => counts.fold(l)(_.maxBy { case (lbl, c) => (c, -lbl) }._1))(
      _ => false, (r, _) => r < LpaIters)._1

  val lpaSql: String = {
    val iters = (1 to LpaIters).map { k =>
      val prev = if (k == 1) "l0" else s"l${k - 1}"
      s"""l$k AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT e.src AS node, l.lbl, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY count(*) DESC, l.lbl ASC) AS rn
         |    FROM ue e JOIN $prev l ON l.node = e.dst
         |    GROUP BY e.src, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)},
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM ue),
       |$iters
       |SELECT node, lbl FROM l$LpaIters ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q36
  /** q36: connected components by synchronous min-label propagation to
    * convergence. Output: component label (min member id) and size. */
  def components(s: SparkSession, d: String): DataFrame =
    componentsOn(edges(s, d, Some(SubNations), SubThreshold))

  /** q36 over a (src, dst) edge frame. */
  def componentsOn(ed: DataFrame): DataFrame =
    census(ed.sparkSession, ccLabels(adjacency(ed))._1)

  /** (component, csize) of a node → component labelling, by component:
    * the census q36 and q64 share. */
  private def census(s: SparkSession, labels: RDD[(Long, Long)])
  : DataFrame = {
    import s.implicits._
    labels.map { case (_, l) => (l, 1L) }.reduceByKey(_ + _)
      .toDF("component", "csize").orderBy(col("component"))
  }

  /** Min-label propagation to its fixpoint, and its rounds. Labels only
    * decrease, so it ends within (largest diameter + 1) rounds; a round
    * cap would split a long component silently. Only a node whose label
    * changed sends (one that kept it already sent it), and each round's
    * job counts the changes. */
  private[graft] def ccLabels(adj: Adjacency): (RDD[(Long, Long)], Int) = {
    // (label, changed in the last round)
    val (labels, rounds, _) = pregel(adj, (v, _) => (v, true))(
      { case (nbrs, (l, chg)) =>
        if (chg) nbrs.iterator.map((_, l)) else Iterator.empty },
      math.min(_: Long, _: Long)) { case ((l, _), m) =>
      m.filter(_ < l).fold((l, false))((_, true)) }(_._2, (_, n) => n > 0)
    (labels.mapValues(_._1), rounds)
  }

  val componentsSql: String =
    s"""WITH RECURSIVE ${edgesSql(Some(SubNations), SubThreshold)},
       |r AS (
       |  SELECT src AS node, src AS lbl FROM ue
       |  UNION
       |  SELECT e.src AS node, r.lbl
       |  FROM r JOIN ue e ON e.dst = r.node),
       |comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node)
       |SELECT component, count(*) AS csize
       |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  /** Connected components by alternating large-star / small-star steps
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): O(log n) rounds on any topology, where [[components]]'s
    * min-label propagation needs O(diameter) (a 10⁶-node path is 10⁶
    * shuffles). Star contraction rewrites the edge set every round, so
    * it is not a vertex program: each step maps every node's neighbour
    * set to new edges and regroups them ([[linked]]) into the
    * adjacency's partitioner. With m = min(N(u) ∪ {u}):
    *   large-star: link each v ∈ N(u) with v > u to m
    *   small-star: link u and each v ∈ N(u) with v < u to m
    * A round is both steps, persisted, and ONE job: a co-partitioned
    * cogroup against the round before, counting the nodes whose
    * neighbour set changed. At the fixpoint every component is one
    * star around its minimum, so a node's label is min(N(u) ∪ {u}).
    * Returns (node → label, rounds); only nodes on an edge appear. */
  private[graft] def starLabels(adj: Adjacency): (RDD[(Long, Long)], Int) = {
    val p = adj.partitioner.get
    def step(a: Adjacency)(links: (Long, Array[Long], Long) =>
        Iterator[Long]): Adjacency =
      linked(a.flatMap { case (u, nbrs) =>
        val m = math.min(u, nbrs.min)
        links(u, nbrs, m).map((_, m))
      }, p)
    var cur = adj
    var (rounds, changed) = (0, 0L)
    // 60 rounds is far past O(log n) convergence for any real graph
    while ((rounds == 0 || changed > 0) && rounds < 60) {
      val large = step(cur)((u, nbrs, _) => nbrs.iterator.filter(_ > u))
      val next = step(large)((u, nbrs, m) =>
        (nbrs.iterator.filter(_ < u) ++ Iterator(u)).filter(_ != m))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.cogroup(cur, p).filter { case (_, (a, b)) =>
        a.headOption.map(_.toSet) != b.headOption.map(_.toSet) }.count()
      if (cur ne adj) cur.unpersist()
      cur = next
      rounds += 1
    }
    // a partially-contracted labelling is a silently wrong answer
    require(changed == 0,
      s"star contraction: no fixpoint after $rounds rounds")
    (cur.map { case (u, nbrs) => (u, math.min(u, nbrs.min)) }, rounds)
  }

  /** (node, component) over a (src, dst) edge frame, UNORDERED, the
    * component labelled by its minimum member: [[starLabels]]. */
  def componentsLargeStar(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    starLabels(adjacency(edges))._1.toDF("node", "component")
  }

  /** q64: the same bounded-subgraph component census as q36, computed
    * by the O(log n) star contraction that q65, q80 and q86 run too,
    * hash-verified against the identical recursive-CTE oracle. */
  def componentsStar(s: SparkSession, d: String): DataFrame =
    census(s, starLabels(
      adjacency(edges(s, d, Some(SubNations), SubThreshold)))._1)

  // ---------------------------------------------------------------- q63
  /** PageRank iterations and damping — the web-quality signal a
    * training-data pipeline computes over its link graph (beyond the
    * reference's surface, like LPA's oracle an unrolled-SQL replay). */
  val PrIters = 5
  val PrDamping = 0.85

  /** q63: PageRank on the bounded co-purchase subgraph, 5 synchronous
    * iterations: pr'(v) = (1−d)/N + d·Σ_{u→v} pr(u)/deg(u) over the
    * undirected adjacency (no dangling nodes — every vertex has an
    * edge by construction, so mass is conserved). Each iteration is
    * one superstep with a double sum as the combiner; pr is rounded to
    * 6 dp per iteration so Spark's and DuckDB's sum orders can't drift
    * (the q40 unrolled-Lloyd precedent). The constant (1−d)/N is
    * computed with the same IEEE ops both engines apply. */
  def pagerank(s: SparkSession, d: String): DataFrame =
    pagerankOn(edges(s, d, Some(SubNations), SubThreshold))

  /** q63 over a (src, dst) edge frame. */
  def pagerankOn(ed: DataFrame): DataFrame = {
    val s = ed.sparkSession
    import s.implicits._
    ranks(adjacency(ed), None).mapValues(_._2).toDF("node", "pr")
      .orderBy(col("node"))
  }

  /** (teleports here, rank) after [[PrIters]] rounds. PageRank
    * (`seedK` None) teleports to every node, after a node-count job; PPR
    * to the top `seedK` nodes by (degree desc, node asc), one
    * `takeOrdered` job. The teleport constants are the IEEE doubles the
    * oracle computes. */
  private[graft] def ranks(adj: Adjacency, seedK: Option[Int])
  : RDD[(Long, (Boolean, Double))] = {
    val seeds = seedK.map(k => adj.map { case (v, nbrs) => (nbrs.length, v) }
      .takeOrdered(k)(Ordering.by { case (dg, v) => (-dg, v) }).map(_._2).toSet)
    val n = seeds.fold(adj.count())(_.size.toLong)
    val tele = (1 - PrDamping) / n
    pregel(adj, (v, _) => {
      val t = seeds.forall(_(v)); (t, if (t) 1.0 / n else 0.0)
    })({ case (nbrs, (_, pr)) => nbrs.iterator.map((_, pr / nbrs.length)) },
      (_: Double) + (_: Double)) { case ((t, _), in) =>
      // scaled floor-half-up, not round(x, 6): mode-independent at
      // exact .xxxxxx5 doubles (rank mass is non-negative, so +0.5
      // floor is half-up on both engines); a long floor, as Spark's
      (t, math.floor(((if (t) tele else 0.0) + PrDamping * in.getOrElse(0.0))
        * 1e6 + 0.5).toLong / 1e6)
    }(_ => false, (r, _) => r < PrIters)._1
  }

  // ---------------------------------------------------------------- q91
  /** Seeds for personalized PageRank — the top-K hub items (degree
    * desc, node asc ties), picked deterministically inside the query
    * so both engines derive the same set. */
  val PprSeedK = 5

  /** q91: personalized PageRank — teleport mass restricted to a seed
    * set instead of uniform (1−d)/N: ppr'(v) = (1−d)·s(v) + d·Σ_{u→v}
    * ppr(u)/deg(u), s = 1/|S| on seeds, 0 elsewhere. This is the
    * graph-proximity "related items" recommender (random walks with
    * restart from the items of interest), the production complement to
    * q87's co-occurrence CF and q89's content profiles. Same scale and
    * parity machinery as q63: one superstep per iteration, 6-dp FP
    * sync per round, teleport constants evaluated
    * as the identical IEEE double on both engines (the seed-count
    * division mirrors q63's (1−d)/N precedent; zero-mass nodes add
    * exact 0.0 terms, which cannot perturb either engine's sum). */
  def personalizedPagerank(s: SparkSession, d: String): DataFrame =
    pprOn(edges(s, d, Some(SubNations), SubThreshold))

  /** q91 over a (src, dst) edge frame. */
  def pprOn(ed: DataFrame): DataFrame = {
    val s = ed.sparkSession
    import s.implicits._
    ranks(adjacency(ed), Some(PprSeedK))
      .map { case (v, (seed, pr)) => (v, if (seed) 1L else 0L, pr) }
      .toDF("node", "is_seed", "ppr").orderBy(col("node"))
  }

  val pprSql: String = {
    val iters = (1 to PrIters).map { k =>
      val prev = s"p${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT d.node, d.deg, d.is_seed,
         |    floor((CASE WHEN d.is_seed = 1
         |        THEN ${1 - PrDamping} / sc.k ELSE 0.0 END
         |      + $PrDamping * i.inflow) * 1e6 + 0.5) / 1e6 AS pr
         |  FROM ds d
         |  JOIN (SELECT e.dst AS node, sum(p.pr / p.deg) AS inflow
         |        FROM ue e JOIN $prev p ON p.node = e.src
         |        GROUP BY 1) i ON i.node = d.node
         |  CROSS JOIN sc)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)},
       |deg AS (SELECT src AS node, count(*) AS deg FROM ue GROUP BY 1),
       |seeds AS (SELECT node FROM deg
       |          ORDER BY deg DESC, node LIMIT $PprSeedK),
       |sc AS (SELECT count(*) AS k FROM seeds),
       |ds AS (SELECT d.node, d.deg,
       |         CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
       |       FROM deg d LEFT JOIN seeds s ON s.node = d.node),
       |p0 AS (SELECT node, deg, is_seed,
       |         CASE WHEN is_seed = 1
       |           THEN CAST(1 AS DOUBLE) / sc.k ELSE 0.0 END AS pr
       |       FROM ds CROSS JOIN sc),
       |$iters
       |SELECT node, CAST(is_seed AS BIGINT) AS is_seed, pr AS ppr
       |FROM p$PrIters ORDER BY node""".stripMargin
  }

  val pagerankSql: String = {
    val iters = (1 to PrIters).map { k =>
      val prev = s"p${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT d.node, d.deg,
         |    floor((${1 - PrDamping} / nc.n + $PrDamping * i.inflow)
         |      * 1e6 + 0.5) / 1e6 AS pr
         |  FROM deg d
         |  JOIN (SELECT e.dst AS node, sum(p.pr / p.deg) AS inflow
         |        FROM ue e JOIN $prev p ON p.node = e.src
         |        GROUP BY 1) i ON i.node = d.node
         |  CROSS JOIN nc)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)},
       |deg AS (SELECT src AS node, count(*) AS deg FROM ue GROUP BY 1),
       |nc AS (SELECT count(*) AS n FROM deg),
       |p0 AS (SELECT node, deg, 1.0 / nc.n AS pr FROM deg CROSS JOIN nc),
       |$iters
       |SELECT node, pr FROM p$PrIters ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q97
  /** k for the q97 core; rounds cap shared by the Spark loop and the
    * oracle unrolling (the loop require()s convergence within it, the
    * oracle error()s on divergence at it — the q37 cap discipline). */
  val KCoreK = 3
  val KCoreMaxRounds = 8

  /** q97: k-core decomposition (iterative peeling) — repeatedly drop
    * nodes of degree < k until fixpoint; the surviving induced
    * subgraph is the k-core, the standard "dense cohesive region"
    * extractor (spam/bot rings in interaction graphs, seed sets for
    * community mining) next to q34's triangles and q35's communities.
    *
    * Scale: each round is one superstep in which every surviving node
    * messages its neighbours — never more than edge-linear work; rounds
    * are bounded by the peeling depth (≤ max coreness, here capped and
    * convergence-asserted). */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOn(edges(s, d, Some(SubNations), SubThreshold), KCoreK)

  /** q97 over a (src, dst) edge frame. */
  def kcoreOn(ed: DataFrame, k: Int): DataFrame = {
    val s = ed.sparkSession
    import s.implicits._
    kcorePeel(adjacency(ed), k)._1
      .map { case (v, p) => (v, p.alive, if (p.alive) p.deg else 0L) }
      .toDF("node", "in_kcore", "core_deg").orderBy(col("node"))
  }

  /** A node's peel state: in the core, its neighbours among the last
    * round's survivors, and whether this round dropped it with edges. */
  private[graft] case class Peel(alive: Boolean, deg: Long, cut: Boolean)

  /** Round r drops every node with fewer than k neighbours among round
    * r−1's survivors. The peel has converged when a round cuts no edge
    * (the oracle guard's edge-count fixpoint), so a node whose
    * neighbours all died drops without costing a round. Returns the
    * states and the rounds. */
  private[graft] def kcorePeel(adj: Adjacency, k: Int)
  : (RDD[(Long, Peel)], Int) = {
    val (peel, rounds, cuts) =
      pregel(adj, (_, nbrs) => Peel(true, nbrs.length, false))(
        (nbrs, p) =>
          if (p.alive) nbrs.iterator.map((_, 1L)) else Iterator.empty,
        (_: Long) + (_: Long)) { (p, in) =>
        val d = in.getOrElse(0L)
        if (p.alive) Peel(d >= k, d, d < k && d > 0) else p.copy(cut = false)
      }(_.cut, (r, n) => n > 0 && r < KCoreMaxRounds)
    require(cuts == 0, s"q97: k-core peeling not converged in " +
      s"$KCoreMaxRounds rounds — raise KCoreMaxRounds")
    (peel, rounds)
  }

  val kcoreSql: String = {
    val k = KCoreK
    val r = KCoreMaxRounds
    val rounds = (1 to r).map { i =>
      val prev = s"e${i - 1}"
      s"""d$i AS (SELECT src, count(*) AS deg FROM $prev GROUP BY 1),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM $prev e
         |  JOIN d$i a ON a.src = e.src AND a.deg >= $k
         |  JOIN d$i b ON b.src = e.dst AND b.deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)},
       |e0 AS MATERIALIZED (SELECT src, dst FROM ue),
       |$rounds,
       |core AS (SELECT src AS node, count(*) AS core_deg
       |         FROM e$r GROUP BY 1),
       |guard AS (
       |  SELECT CASE WHEN (SELECT count(*) FROM e$r)
       |      <> (SELECT count(*) FROM e${r - 1}) THEN error(
       |    'q97 oracle: peeling still shrinking at round $r — '
       |    || 'raise KCoreMaxRounds')
       |    ELSE 0 END AS ok)
       |SELECT n.node, (c.node IS NOT NULL) AS in_kcore,
       |  coalesce(c.core_deg, 0) AS core_deg
       |FROM (SELECT DISTINCT src AS node FROM ue) n
       |LEFT JOIN core c ON c.node = n.node
       |CROSS JOIN guard
       |ORDER BY n.node""".stripMargin
  }

  // --------------------------------------------------------------- q108
  /** q108: local clustering coefficient — per node on the bounded
    * subgraph: degree, triangle membership count, and
    * lcc = 2·t / (deg·(deg−1)) at 6 dp (0 when deg < 2). The per-node
    * refinement of q34's global count: the same canonical a<b<c
    * triangle join, then each triangle credits its three corners via a
    * UNION ALL explode — edge-list-sized shuffles only, and the
    * coefficient arithmetic is one integer-exact ratio pushed through
    * a double division written identically in both engines. Nodes in
    * no triangle surface through the left join with lcc 0, not by
    * dropping out. */
  def localClustering(s: SparkSession, d: String): DataFrame =
    localClusteringOn(edges(s, d, Some(SubNations), SubThreshold))

  /** q108 over an arbitrary canonical (src < dst) edge list. */
  def localClusteringOn(edgeList: DataFrame): DataFrame = {
    // kept: 4 readers; 17% slower at sf0.1 without it (as q33)
    val ed = edgeList.localCheckpoint()
    val deg = undirected(ed)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val e1 = ed.select(col("src").as("a"), col("dst").as("b"))
    val e2 = ed.select(col("src").as("b"), col("dst").as("c"))
    val e3 = ed.select(col("src").as("a"), col("dst").as("c"))
    val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
    val corners = tri.select(col("a").as("node"))
      .unionByName(tri.select(col("b").as("node")))
      .unionByName(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc", when(col("degree") < 2, lit(0.0))
        .otherwise(floor((col("n_tri") * 2).cast("double") /
          (col("degree") * (col("degree") - 1)).cast("double")
          * 1e6 + 0.5) / 1e6))
      .orderBy(col("node"))
  }

  val localClusteringSql: String =
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)},
       |deg AS (SELECT src AS node, count(*) AS degree FROM ue GROUP BY 1),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM ed e1 JOIN ed e2 ON e2.src = e1.dst
       |             JOIN ed e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |corners AS (
       |  SELECT node, count(*) AS n_tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY 1)
       |SELECT d.node, d.degree,
       |  CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri,
       |  CASE WHEN d.degree < 2 THEN 0.0
       |    ELSE floor(CAST(coalesce(c.n_tri, 0) * 2 AS DOUBLE)
       |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
       |      * 1e6 + 0.5) / 1e6 END AS lcc
       |FROM deg d LEFT JOIN corners c ON c.node = d.node
       |ORDER BY d.node""".stripMargin

  // --------------------------------------------------------------- q118
  /** q118: degree assortativity — the Pearson correlation of endpoint
    * degrees over all directed edge orientations, the one-number
    * answer to "do hubs connect to hubs?" (positive: social-style
    * core; negative: hub-and-spoke). Cross-engine-exact by
    * construction: every moment (Σx, Σxy, Σx², n) is an INTEGER sum of
    * integer degrees — order-independent, no FP accumulation — and the
    * final r is a handful of identically-written double ops plus one
    * correctly-rounded sqrt. The moment aggregate is edge-keyed
    * map-side work; the output is a single row at any scale. Long
    * arithmetic holds while n·Σx² < 2⁶³ — far beyond the bounded
    * subgraph this runs on (the factors go through doubles before the
    * one multiply that could overflow). */
  def assortativity(s: SparkSession, d: String): DataFrame =
    assortativityOn(edges(s, d, Some(SubNations), SubThreshold))

  /** q118 over an arbitrary canonical (src < dst) edge list. */
  def assortativityOn(edgeList: DataFrame): DataFrame = {
    // kept: 2 readers; 20% slower at sf0.1 without it (as q33)
    val ue = undirected(edgeList.localCheckpoint())
    val deg = ue.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val xy = ue
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(col("n"), col("sx"), col("sy"), col("sxy"),
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")).as("num"),
        ((col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          * (col("n").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")))
          .as("den"))
      .select(col("n").as("n_directed_edges"),
        // a REGULAR graph has zero degree variance — correlation is
        // undefined there, surface null, not NaN
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise(floor(col("num") / sqrt(col("den")) * 1e6 + 0.5)
            / 1e6).as("assortativity"))
  }

  val assortativitySql: String =
    s"""WITH ${edgesSql(Some(SubNations), SubThreshold)},
       |deg AS (SELECT src AS node, count(*) AS deg FROM ue GROUP BY 1),
       |xy AS (
       |  SELECT a.deg AS x, b.deg AS y
       |  FROM ue JOIN deg a ON a.node = ue.src
       |          JOIN deg b ON b.node = ue.dst),
       |m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM xy),
       |nd AS (
       |  SELECT n,
       |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
       |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
       |  FROM m)
       |SELECT n AS n_directed_edges,
       |  CASE WHEN den = 0.0 THEN NULL
       |    ELSE floor(num / sqrt(den) * 1e6 + 0.5) / 1e6
       |  END AS assortativity
       |FROM nd""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_assortativity" -> (assortativity _),
    "q108_local_clustering" -> (localClustering _),
    "q97_kcore" -> (kcore _),
    "q33_degree_hist" -> (degreeHist _),
    "q34_triangles" -> (triangles _),
    "q35_lpa" -> (lpa _),
    "q36_components" -> (components _),
    "q63_pagerank" -> (pagerank _),
    "q64_components_star" -> (componentsStar _),
    "q91_ppr" -> (personalizedPagerank _))

  val oracle: Map[String, String] = Map(
    "q118_assortativity" -> assortativitySql,
    "q108_local_clustering" -> localClusteringSql,
    "q97_kcore" -> kcoreSql,
    "q33_degree_hist" -> degreeHistSql,
    "q34_triangles" -> trianglesSql,
    "q35_lpa" -> lpaSql,
    "q36_components" -> componentsSql,
    "q64_components_star" -> componentsSql,
    "q63_pagerank" -> pagerankSql,
    "q91_ppr" -> pprSql)
}
