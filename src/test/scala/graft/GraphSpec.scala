package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GirvanNewman, Graphs}

class GraphSpec extends AnyFunSuite {
  import SparkTestSession._

  test("edge-build skew guard drops hot join keys, keeps the rest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // part 99 is "hot": bought by 6 customers (> cap 5) → must emit no
    // pairs; part 1 is normal: 3 customers → C(3,2) pairs survive.
    val hot = (1 to 6).map(c => (c.toLong, 99L))
    val cold = (1 to 3).map(c => (c.toLong, 1L))
    val cp = (hot ++ cold).toDF("ck", "pk")
    val capped = graft.graph.Graphs.capBySourceDf(cp, maxDf = 5)
    assert(capped.filter(col("pk") === 99L).count() == 0,
      "hot key excluded before the self-join")
    assert(capped.filter(col("pk") === 1L).count() == 3,
      "normal keys untouched")
  }

  test("pagerank: mass conserved, star center dominates, symmetry holds") {
    import spark.implicits._
    // star K1,3: center 0, leaves 1..3, both directions
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val pr = graft.graph.Graphs.pagerankOn(star).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // no dangling nodes → total mass stays 1 (up to 6-dp rounding)
    assert(math.abs(pr.values.sum - 1.0) < 1e-4, s"mass ${pr.values.sum}")
    assert(pr(0L) > pr(1L), "center outranks leaves")
    assert(pr(1L) == pr(2L) && pr(2L) == pr(3L), "leaves symmetric")
    // path 1-2-3: ends symmetric, middle dominates
    val path = Seq((1L, 2L), (2L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val pp = graft.graph.Graphs.pagerankOn(path).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pp(1L) == pp(3L), "path ends symmetric")
    assert(pp(2L) > pp(1L), "middle dominates")
  }

  test("personalized pagerank: seed teleport, mass conserved, symmetry") {
    import spark.implicits._
    // star K1,7: center 0, leaves 1..7. Seeds (top-5 by degree desc,
    // node asc) = {0, 1, 2, 3, 4}: the center plus four seed leaves.
    val star = (1L to 7L).map(l => (0L, l))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val pr = graft.graph.Graphs.pprOn(star).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val seeds = pr.filter(_._2 == 1L).map(_._1).toSet
    assert(seeds == Set(0L, 1L, 2L, 3L, 4L), s"seeds $seeds")
    val m = pr.map(r => r._1 -> r._3).toMap
    // teleport only re-injects what damping removes → mass stays 1
    assert(math.abs(m.values.sum - 1.0) < 1e-4, s"mass ${m.values.sum}")
    assert(m(1L) == m(2L) && m(2L) == m(3L) && m(3L) == m(4L),
      "seed leaves symmetric")
    assert(m(5L) == m(6L) && m(6L) == m(7L), "non-seed leaves symmetric")
    assert(m(1L) > m(5L), "seed leaves outrank non-seed leaves")
    assert(m(0L) > m(1L), "hub seed dominates")
  }

  test("brandes edge betweenness: path graph 1-2-3-4") {
    val b = GirvanNewman.edgeBetweenness(spark, Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    // pairs crossing each edge: (1,2)=3, (2,3)=4, (3,4)=3
    assert(math.abs(b((1L, 2L)) - 3.0) < 1e-9)
    assert(math.abs(b((2L, 3L)) - 4.0) < 1e-9)
    assert(math.abs(b((3L, 4L)) - 3.0) < 1e-9)
  }

  test("brandes edge betweenness: star K1,3 — every edge 3.0") {
    val b = GirvanNewman.edgeBetweenness(spark,
      Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(b.values.forall(v => math.abs(v - 3.0) < 1e-9))
  }

  test("brandes splits equally across two shortest paths (4-cycle)") {
    // cycle 1-2-4-3-1: two equal paths between opposite corners; each
    // edge carries 1 (adjacent pair) + 2×0.5 (split diagonals) = 2
    val b = GirvanNewman.edgeBetweenness(spark,
      Seq((1L, 2L), (2L, 4L), (3L, 4L), (1L, 3L)))
    assert(b.values.forall(v => math.abs(v - 2.0) < 1e-9))
  }

  test("reference-sigma mode: agrees on trees, diverges on multi-path") {
    // tree (path graph): every parent has sigma=1 → identical results
    val tree = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val exact = GirvanNewman.edgeBetweenness(spark, tree)
    val ref = GirvanNewman.edgeBetweenness(spark, tree,
      referenceSigma = true)
    assert(exact == ref)
    // diamond 1-{2,3}-4 plus tail 4-5: two shortest paths 1→4, so
    // sigma(4)=2 matters for the tail edge's dependency share
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val exactD = GirvanNewman.edgeBetweenness(spark, diamond)
    val refD = GirvanNewman.edgeBetweenness(spark, diamond,
      referenceSigma = true)
    assert(exactD != refD,
      "parent-count sigma must diverge from Brandes on multi-path graphs")
    // correct Brandes golden for the tail edge: pairs crossing = 4
    assert(math.abs(exactD((4L, 5L)) - 4.0) < 1e-9)
  }

  test("girvan-newman separates two triangles joined by a bridge") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), // triangle A
      (4L, 5L), (4L, 6L), (5L, 6L), // triangle B
      (3L, 4L)) // bridge — highest betweenness (9.0: 3×3 pairs)
    val bt = GirvanNewman.edgeBetweenness(spark, edges)
    assert(bt.maxBy(_._2)._1 == ((3L, 4L)))
    assert(math.abs(bt((3L, 4L)) - 9.0) < 1e-9)
    val (q, comms) = GirvanNewman.gnCommunities(edges)
    assert(comms.map(_.toSeq.sorted).toSet ==
      Set(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)))
    assert(q > 0.3, s"modularity of the 2-community split: $q")
  }

  test("k-core: triangle survives 2-core, pendant chain peels off") {
    import spark.implicits._
    val ed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graphs.kcoreOn(ed, 2).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(got == Set((1L, true, 2L), (2L, true, 2L), (3L, true, 2L),
      (4L, false, 0L), (5L, false, 0L)))
  }

  test("k-core: K4 is a 3-core; K4 minus an edge peels to nothing") {
    import spark.implicits._
    val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
      .toDF("src", "dst")
    assert(Graphs.kcoreOn(k4, 3).collect().forall(_.getBoolean(1)))
    // drop edge (3,4): degrees 3,3,2,2 → cascade empties the 3-core
    val broken = (for (a <- 1L to 4L; b <- a + 1 to 4L
                       if (a, b) != (3L, 4L)) yield (a, b))
      .toDF("src", "dst")
    assert(Graphs.kcoreOn(broken, 3).collect().forall(!_.getBoolean(1)))
  }

  test("local clustering coefficient: triangle-plus-pendant golden") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4 hanging off node 1:
    //   deg(1)=3 t(1)=1 lcc=2/(3·2)=0.333333; deg(2)=deg(3)=2 t=1 lcc=1;
    //   deg(4)=1 → lcc 0 by convention
    val ed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = Graphs.localClusteringOn(ed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set((1L, 3L, 1L, 0.333333), (2L, 2L, 1L, 1.0),
      (3L, 2L, 1L, 1.0), (4L, 1L, 0L, 0.0)))
  }

  test("assortativity: star is perfectly disassortative; regular graph is null") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = Graphs.assortativityOn(star).collect().head
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == -1.0, s"star assortativity ${r.getDouble(1)}")
    // a triangle is 2-regular: degree variance 0 → undefined → null
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val t = Graphs.assortativityOn(tri).collect().head
    assert(t.isNullAt(1), "regular graph must yield null, not NaN")
  }

  test("local clustering: K4 is fully clustered, star is zero") {
    import spark.implicits._
    val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
      .toDF("src", "dst")
    assert(Graphs.localClusteringOn(k4).collect()
      .forall(r => r.getDouble(3) == 1.0 && r.getLong(2) == 3L))
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    assert(Graphs.localClusteringOn(star).collect()
      .forall(r => r.getDouble(3) == 0.0))
  }

  test("edge pair-aggregate volume gate: exact pair mass; stock plan " +
      "below the guard, cardinality-scaled clustering past it; " +
      "results identical in both regimes") {
    import spark.implicits._
    // fanouts 3 / 2 / 1 → pair mass C(3,2)+C(2,2)+0 = 4; at thr=1
    // every canonical pair is an edge
    val cp = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 30L)).toDF("ck", "pk").localCheckpoint()
    assert(Graphs.pairMass(cp) == 4L, "Σ f(f−1)/2 over join keys")
    val want = Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val below = Graphs.edgesFromCp(cp, 1, mass = 4L)
    val belowPlan = below.queryExecution.executedPlan.toString
    assert(!belowPlan.contains("REPARTITION_BY_NUM"),
      s"below-guard edge build must keep the stock session plan:\n" +
        belowPlan)
    assert(edgeSet(below) == want)
    // pair-mass regime (the r14 100× probe: 897M pair rows over 32
    // fixed partitions spilled 82 GiB per aggregate pass) — the pair
    // stream must cluster by (src,dst) at est/2M partitions BEFORE
    // the aggregate. The mass is DERIVED from the session layout
    // (mass/partitions = 2× the guard), so the regime stays
    // above-guard under any spark.sql.shuffle.partitions, and the
    // expected repartition width follows the same arithmetic the
    // gate applies (ADVICE r14).
    val parts = spark.sessionState.conf.numShufflePartitions
    val mass = parts.toLong *
      graft.mining.SetSimilarity.PairDedupGuardRowsPerTask * 2
    val expParts = math.min(4096L,
      mass / graft.mining.Recommend.ShuffleRowsPerPartition).toInt
    val above = Graphs.edgesFromCp(cp, 1, mass)
    val abovePlan = above.queryExecution.executedPlan.toString
    val repart =
      s"hashpartitioning\\(src#\\d+L?, dst#\\d+L?, $expParts\\)".r
    assert(abovePlan.contains("REPARTITION_BY_NUM") &&
      repart.findFirstIn(abovePlan).isDefined,
      s"above-guard pair stream must repartition on (src,dst) at " +
        s"mass/2M = $expParts:\n" + abovePlan)
    assert(edgeSet(above) == want,
      "the gate changes layout, never results")
  }

  // ----------------------------------------------- the five graph loops
  // Plain-Scala references over a canonical edge list, each replaying
  // its loop's definition round by round.

  /** node → distinct neighbours, both directions. */
  private def nbrsOf(es: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    es.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }

  private def lpaRef(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val nb = nbrsOf(es)
    var lbl = nb.map { case (v, _) => v -> v }
    for (_ <- 1 to Graphs.LpaIters) {
      lbl = nb.map { case (v, ns) =>
        val counts = ns.groupBy(lbl).map { case (l, xs) => l -> xs.size }
        v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    lbl
  }

  /** Union-find; every node points at its component's minimum (roots
    * are minimal by the max-points-to-min union rule). */
  private def unionFindRef(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nbrsOf(es).keys.map(v => v -> find(v)).toMap
  }

  private def floor6(x: Double): Double =
    math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** PageRank (seeds empty) or PPR (seeds = top-K by degree desc, node
    * asc), both with the per-round 6-dp floor. */
  private def rankRef(es: Seq[(Long, Long)], personalized: Boolean)
  : Map[Long, Double] = {
    val nb = nbrsOf(es)
    val d = Graphs.PrDamping
    val seeds = nb.toSeq.sortBy { case (v, ns) => (-ns.size, v) }
      .take(Graphs.PprSeedK).map(_._1).toSet
    val k = seeds.size
    def tele(v: Long): Double =
      if (!personalized) (1 - d) / nb.size
      else if (seeds(v)) (1 - d) / k else 0.0
    var pr = nb.map { case (v, _) =>
      v -> (if (!personalized) 1.0 / nb.size
            else if (seeds(v)) 1.0 / k else 0.0)
    }
    for (_ <- 1 to Graphs.PrIters) {
      pr = nb.map { case (v, ns) =>
        v -> floor6(tele(v) + d * ns.map(u => pr(u) / nb(u).size).sum)
      }
    }
    pr
  }

  /** The edge-list peel: drop edges touching a node of degree < k
    * until the edge set stops shrinking. (node → core degree, 0 when
    * out of the core; rounds). */
  private def peelRef(es: Seq[(Long, Long)], k: Int)
  : (Map[Long, Long], Int) = {
    var e = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    var done = false
    var rounds = 0
    while (!done) {
      val deg = e.groupBy(_._1).map { case (v, xs) => v -> xs.size }
      val next = e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      done = next.size == e.size
      e = next
      rounds += 1
    }
    val core = e.groupBy(_._1).map { case (v, xs) => v -> xs.size.toLong }
    (nbrsOf(es).keys.map(v => v -> core.getOrElse(v, 0L)).toMap, rounds)
  }

  /** Random graphs and the shapes each loop must handle. */
  private val loopCases: Seq[(String, Seq[(Long, Long)])] = {
    var seed = 0xC0FFEEL
    def next(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val random = (1 to 3).map { t =>
      val n = 20 + next(30)
      s"random $t" -> (0 until 2 * n).map(_ => (next(n).toLong, next(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    }
    random ++ Seq(
      "empty" -> Seq.empty,
      "one edge" -> Seq((3L, 7L)),
      "disconnected" -> Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)),
      "star" -> (1L to 6L).map(l => (0L, l)),
      "path" -> (0L until 12L).map(i => (i, i + 1)))
  }

  private def edgeFrame(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("LPA matches its replay on random graphs, empty, one edge, " +
      "disconnected parts, a star and a path") {
    loopCases.foreach { case (name, es) =>
      val got = Graphs.lpaLabels(Graphs.adjacency(edgeFrame(es)))
        .collect().toMap
      assert(got == lpaRef(es), name)
    }
  }

  test("min-label components match union-find on the same cases") {
    loopCases.foreach { case (name, es) =>
      val got = Graphs.componentsOn(edgeFrame(es)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFindRef(es).values.groupBy(identity)
        .map { case (c, vs) => c -> vs.size.toLong }
      assert(got == want, name)
    }
  }

  test("large-star/small-star components == union-find on random graphs") {
    // and on the other cases: empty, one edge, disconnected parts, a
    // star and a path
    loopCases.foreach { case (name, es) =>
      val got = Graphs.componentsLargeStar(edgeFrame(es)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFindRef(es), name)
    }
    // long path: label propagation would need ~500 rounds; star
    // contraction must finish inside the 60-round cap
    val path = (0L until 499L).map(i => (i, i + 1))
    val (labels, rounds) = Graphs.starLabels(Graphs.adjacency(edgeFrame(path)))
    assert(labels.collect().toMap == unionFindRef(path),
      "path collapses to component 0")
    assert(rounds < 60, s"$rounds rounds")
  }

  test("a 120-node path is one component: propagation runs to its " +
      "fixpoint with no round cap") {
    val path = (0L until 119L).map(i => (i, i + 1))
    val got = Graphs.componentsOn(edgeFrame(path)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(0L -> 120L), "one component of 120 nodes")
    val (labels, rounds) = Graphs.ccLabels(Graphs.adjacency(edgeFrame(path)))
    assert(labels.collect().toMap == unionFindRef(path))
    assert(rounds == 120, "diameter 119 + the round that sees no change")
  }

  test("PageRank and personalized PageRank match their 6-dp references " +
      "on the same cases") {
    // the inflow sums run in shuffle order, so a value may land one
    // 1e-6 step off the reference; every value stays on the 6-dp grid
    def onGrid(x: Double) = math.abs(x * 1e6 - math.rint(x * 1e6)) < 1e-6
    loopCases.foreach { case (name, es) =>
      val pr = Graphs.pagerankOn(edgeFrame(es)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prWant = rankRef(es, personalized = false)
      assert(pr.keySet == prWant.keySet, name)
      pr.foreach { case (v, x) =>
        assert(onGrid(x) && math.abs(x - prWant(v)) < 1e-5,
          s"$name pagerank node $v: $x vs ${prWant(v)}")
      }
      val ppr = Graphs.pprOn(edgeFrame(es)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val pprWant = rankRef(es, personalized = true)
      val seeds = nbrsOf(es).toSeq.sortBy { case (v, ns) => (-ns.size, v) }
        .take(Graphs.PprSeedK).map(_._1).toSet
      assert(ppr.keySet == pprWant.keySet, name)
      ppr.foreach { case (v, (seed, x)) =>
        assert(seed == (if (seeds(v)) 1L else 0L), s"$name seed $v")
        assert(onGrid(x) && math.abs(x - pprWant(v)) < 1e-5,
          s"$name ppr node $v: $x vs ${pprWant(v)}")
      }
    }
  }

  test("k-core peel matches the edge-list peel, rounds included, for " +
      "k = 1..3 on the same cases") {
    for ((name, es) <- loopCases; k <- 1 to 3) {
      val (want, wantRounds) = peelRef(es, k)
      if (wantRounds > Graphs.KCoreMaxRounds) {
        // the oracle's guard errors at the cap; so must the loop
        intercept[IllegalArgumentException](
          Graphs.kcoreOn(edgeFrame(es), k))
      } else {
        val got = Graphs.kcoreOn(edgeFrame(es), k).collect()
          .map(r => (r.getLong(0), (r.getBoolean(1), r.getLong(2)))).toMap
        assert(got == want.map { case (v, d) => v -> (d > 0, d) },
          s"$name k=$k")
        val (_, rounds) =
          Graphs.kcorePeel(Graphs.adjacency(edgeFrame(es)), k)
        assert(rounds == wantRounds, s"$name k=$k rounds")
      }
    }
  }

  test("k-core rounds equal the DataFrame peel's on the k-core cases") {
    // rounds the previous per-round DataFrame loop ran on these inputs
    val k4 = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    Seq(
      (Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)), 2, 3),
      (k4, 3, 1),
      (k4.filter(_ != ((3L, 4L))), 3, 3)).foreach { case (es, k, pin) =>
      val (_, rounds) = Graphs.kcorePeel(Graphs.adjacency(edgeFrame(es)), k)
      assert(rounds == pin, s"$es k=$k")
    }
  }

  test("job pins: every round of six graph loops is at most one job and " +
      "no SQL execution") {
    val es = loopCases.toMap.apply("disconnected")
    val adj = Graphs.adjacency(edgeFrame(es))
    adj.count()
    def runs[A](body: => A) = TestUtil.countRuns(spark)(body)
    def pin(name: String, jobs: Seq[String], sqls: Seq[String], n: Int) = {
      assert(jobs.size == n, s"$name:\n" + jobs.mkString("\n"))
      assert(sqls.isEmpty, s"$name:\n" + sqls.mkString("\n"))
    }
    val (_, lpaJobs, lpaSql, _) = runs(Graphs.lpaLabels(adj))
    pin("lpa", lpaJobs, lpaSql, Graphs.LpaIters)
    val ((_, rounds), ccJobs, ccSql, _) = runs(Graphs.ccLabels(adj))
    pin("cc", ccJobs, ccSql, rounds)
    // + the node count / the seed takeOrdered
    val (_, prJobs, prSql, _) = runs(Graphs.ranks(adj, None))
    pin("pagerank", prJobs, prSql, Graphs.PrIters + 1)
    val (_, pprJobs, pprSql, _) = runs(Graphs.ranks(adj, Some(Graphs.PprSeedK)))
    pin("ppr", pprJobs, pprSql, Graphs.PrIters + 1)
    val ((_, kRounds), kJobs, kSql, _) = runs(Graphs.kcorePeel(adj, 3))
    pin("kcore", kJobs, kSql, kRounds)
    val ((_, sRounds), sJobs, sSql, _) = runs(Graphs.starLabels(adj))
    pin("star", sJobs, sSql, sRounds)
    Sessions.dropCheckpoints(spark)
  }
}
