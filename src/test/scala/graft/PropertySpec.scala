package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.mining.Son
import graft.streaming.Streams
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import graft.plans.{DotProductExpr, EqCountExpr, SortedIntersectSizeExpr}

/** Property-based checks (SURVEY §5.3) for the algorithm kernels that
  * have no SQL oracle — scalacheck properties run under fixed seeds via
  * Test.check, asserted through ScalaTest. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(60)
        .withInitialSeed(Seed(42L)), p)
    assert(res.passed, res.status.toString)
  }

  private val basketsGen: Gen[List[List[String]]] =
    Gen.listOfN(30, Gen.nonEmptyListOf(
      Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.distinct.sorted))

  test("local a-priori == brute-force frequent itemsets on random baskets") {
    check(Prop.forAll(basketsGen) { baskets =>
      val arr = baskets.map(_.toArray)
      val got = Son.aprioriLocal(arr, supportFrac = 0.3, maxSize = 4)
        .map(_.mkString(",")).toSet
      val thr = math.max(1L, math.ceil(0.3 * baskets.size).toLong)
      val counts = scala.collection.mutable.Map.empty[String, Long]
      baskets.foreach { b =>
        (1 to math.min(4, b.size)).foreach { k =>
          b.combinations(k).foreach { c =>
            val key = c.mkString(",")
            counts.update(key, counts.getOrElse(key, 0L) + 1)
          }
        }
      }
      got == counts.filter(_._2 >= thr).keySet
    })
  }

  test("FM sketch merge law: merge(sketch(A), sketch(B)) == sketch(A ++ B)") {
    val xsGen = Gen.listOf(Gen.chooseNum(0L, 1000000L))
    check(Prop.forAll(xsGen, xsGen) { (a, b) =>
      val sa = a.foldLeft(Streams.FmSketchAgg.zero)(Streams.FmSketchAgg.reduce)
      val sb = b.foldLeft(Streams.FmSketchAgg.zero)(Streams.FmSketchAgg.reduce)
      val su = (a ++ b).foldLeft(Streams.FmSketchAgg.zero)(
        Streams.FmSketchAgg.reduce)
      Streams.FmSketchAgg.merge(sa, sb).toSeq == su.toSeq
    })
  }

  test("FM estimate is duplicate-insensitive") {
    val xsGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 100000L))
    check(Prop.forAll(xsGen) { xs =>
      val once = xs.distinct.foldLeft(Streams.FmSketchAgg.zero)(
        Streams.FmSketchAgg.reduce)
      val thrice = (xs ++ xs ++ xs).foldLeft(Streams.FmSketchAgg.zero)(
        Streams.FmSketchAgg.reduce)
      Streams.FmSketchAgg.finish(once) == Streams.FmSketchAgg.finish(thrice)
    })
  }

  test("bloom positions: membership of trained value always predicted") {
    // relational-Bloom invariant at kernel level: for any value set, all
    // k positions of a trained value are in the position set
    val vals = (1 to 200).map(i => s"v$i")
    val seeds = graft.functions.Hashing.seeds(6, salt = 29L)
    def positions(v: String): Seq[Long] = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16) %
        graft.functions.Hashing.M31
      seeds.map { case (a, b) => (a * h + b) % 7000L }
    }
    val trained = vals.take(100).flatMap(positions).toSet
    vals.take(100).foreach { v =>
      assert(positions(v).forall(trained.contains), s"false negative on $v")
    }
  }

  // ---- native kernel properties (interpreted eval path; the codegen
  // path is pinned by PlansSpec's fixed cases) ----

  private val dblArr: Gen[List[Double]] =
    Gen.listOfN(8, Gen.chooseNum(-100.0, 100.0))

  test("graft_dot eval == fold dot product; ragged input is NULL") {
    check(Prop.forAll(dblArr, dblArr) { (a, b) =>
      val got = DotProductExpr(
        Literal.create(a, ArrayType(DoubleType)),
        Literal.create(b, ArrayType(DoubleType))).eval(null)
      val expect = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      got == expect
    })
    val ragged = DotProductExpr(
      Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType)),
      Literal.create(Seq(1.0), ArrayType(DoubleType))).eval(null)
    assert(ragged == null)
  }

  test("graft_eqcount eval == position-wise equality count") {
    val lngArr = Gen.listOfN(6, Gen.chooseNum(0L, 3L))
    check(Prop.forAll(lngArr, lngArr) { (a, b) =>
      val got = EqCountExpr(
        Literal.create(a, ArrayType(LongType)),
        Literal.create(b, ArrayType(LongType))).eval(null)
      got == a.zip(b).count { case (x, y) => x == y }
    })
    val ragged = EqCountExpr(
      Literal.create(Seq(1L, 2L), ArrayType(LongType)),
      Literal.create(Seq(1L), ArrayType(LongType))).eval(null)
    assert(ragged == null, "ragged signature pair must be NULL")
  }

  test("graft_isize eval == set-intersection size on sorted arrays") {
    val strArr = Gen.listOf(Gen.oneOf(
        "a", "b", "c", "d", "e", "f", "g", "h", "aa", "ab"))
      .map(_.distinct.sorted)
    check(Prop.forAll(strArr, strArr) { (a, b) =>
      val got = SortedIntersectSizeExpr(
        Literal.create(a, ArrayType(StringType)),
        Literal.create(b, ArrayType(StringType))).eval(null)
      got == a.toSet.intersect(b.toSet).size
    })
  }

  test("BoundedMinK over any reduce/merge split == sorted.take(k)") {
    val xsGen = Gen.listOf(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue))
    val kGen = Gen.chooseNum(1, 12)
    check(Prop.forAll(xsGen, xsGen, kGen) { (a, b, k) =>
      val agg = new graft.functions.BoundedMinK(k)
      // arbitrary partitioning: reduce each side, then merge
      val left = a.foldLeft(agg.zero)(agg.reduce)
      val right = b.foldLeft(agg.zero)(agg.reduce)
      val got = agg.finish(agg.merge(left, right)).toSeq
      got == (a ++ b).sorted.take(k)
    })
  }

  test("BoundedTopByCount over any split == global (count desc, label asc) top-k") {
    val rowGen = Gen.zip(Gen.chooseNum(0L, 50L),
      Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
    val xsGen = Gen.listOf(rowGen)
    val kGen = Gen.chooseNum(1, 5)
    check(Prop.forAll(xsGen, xsGen, kGen) { (a, b, k) =>
      val agg = new graft.functions.BoundedTopByCount(k)
      val got = agg.finish(agg.merge(
        a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce)))
      got == (a ++ b).sortBy { case (c, w) => (-c, w) }.take(k)
    })
  }

  test("ContentScoreAgg profile buffer: bounded insert over any " +
      "reduce/merge split == stable sort.take(topF)") {
    import SparkTestSession._
    // finish() is exercised by the q89 oracle; this pins the BUFFER
    // law after the per-row sort became a bounded insert (VERDICT r10
    // item 4): any partitioning of the input rows must produce exactly
    // the global (w desc, f asc) top-F profile
    val idx = spark.sparkContext.broadcast(
      graft.mining.Recommend.ClassIndex(
        Map.empty, Array.empty[Long], Array.empty))
    val rowGen = Gen.zip(
      Gen.oneOf("a", "b", "c", "d", "e", "f", "g"),
      Gen.chooseNum(1L, 50L))
    val xsGen = Gen.listOf(rowGen)
    val fGen = Gen.chooseNum(1, 6)
    check(Prop.forAll(xsGen, xsGen, fGen) { (a, b, topF) =>
      val agg = new graft.mining.Recommend.ContentScoreAgg(idx, topF, 4)
      val got = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      got == (a ++ b).sortBy { case (f, w) => (-w, f) }.take(topF)
    })
  }

  test("q148 distributed packing == sequential greedy replay on random " +
      "corpora") {
    import SparkTestSession._
    import spark.implicits._
    // random doc lengths (incl. oversized), random capacity/budget —
    // the distributed shard-then-pack must equal a single sequential
    // pass that shards by the same running-token rule then packs
    // greedily within each shard
    // 0-length docs included (ADVICE r10): a zero-token doc opening a
    // shard followed by an over-capacity doc is exactly the case where
    // a `fill > 0` guard and the oracle's first-row rule diverge
    val lensGen = Gen.listOfN(40, Gen.chooseNum(0, 80))
    val capGen = Gen.chooseNum(20L, 60L)
    val budGen = Gen.chooseNum(100L, 300L)
    check(Prop.forAll(lensGen, capGen, budGen) { (lens, cap, budget) =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, Seq.fill(n)("w").mkString(" "))
      }.toDF("doc_id", "text")
      val got = graft.ops.Pipeline.packSequencesOn(docs, budget, cap)
        .collect().map(r => (r.getLong(0),
          (r.getLong(2), r.getLong(3)))).toMap
      // reference: one sequential pass over doc_id order, first row of
      // a shard always opens bin 0 (the oracle CTE's rn=1 anchor)
      var cum = 0L
      var shardState = Map.empty[Long, (Long, Long)] // shard -> (bin, fill)
      val want = lens.zipWithIndex.map { case (n, i) =>
        val shard = cum / budget
        cum += n
        val (nb, nf) = shardState.get(shard) match {
          case None => (0L, n.toLong)
          case Some((bin, fill)) =>
            if (fill + n > cap) (bin + 1, n.toLong)
            else (bin, fill + n)
        }
        shardState += shard -> (nb, nf)
        i.toLong -> (shard, nb)
      }.toMap
      got == want
    })
  }

  test("BFR chunk-round merge over any partitioning == brute force: " +
      "RS buffer = the cap smallest unassigned ids, N = true counts") {
    import graft.cluster.Bfr
    // (distinct ids, a tag per id: −1 unassigned, DS 0/1, CS 100)
    val rowsGen: Gen[Seq[(Long, Int)]] = for {
      n <- Gen.choose(0, 60)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 10000L)).map(_.distinct)
      allUnassigned <- Gen.oneOf(true, false)
      tags <- Gen.listOfN(ids.size,
        if (allUnassigned) Gen.const(-1) else Gen.oneOf(-1, 0, 1, 100))
    } yield ids.zip(tags)
    val gen = for {
      rows <- rowsGen
      nParts <- Gen.choose(1, 6) // partitions may come out empty
      part <- Gen.listOfN(rows.size, Gen.choose(0, nParts - 1))
      cap <- Gen.oneOf(Gen.const(0), Gen.const(1), Gen.choose(2, 12),
        Gen.const(1000))
    } yield (rows, nParts, part, cap)
    check(Prop.forAll(gen) { case (rows, nParts, part, cap) =>
      def vec(id: Long) = Array(id.toDouble, -id.toDouble)
      val parts = (0 until nParts).map { k =>
        Bfr.foldChunk(rows.zip(part).collect {
          case ((id, t), `k`) => (id, vec(id), t) }.iterator, cap)
      }
      val (stats, rs) = Bfr.mergeRound(parts, cap)
      val wantRs = rows.collect { case (id, -1) => id }.sorted.take(cap)
      val wantN = rows.groupBy(_._2).map { case (t, v) => t -> v.size.toLong }
      rs.map(_._1) == wantRs &&
        rs.forall { case (id, p) => p.sameElements(vec(id)) } &&
        stats.map { case (t, st) => t -> st.n } == wantN
    })
  }

  test("SON's fused count + phase 1 and its reduce phase 2 == brute-force " +
      "frequent itemsets over any partitioning") {
    import SparkTestSession._
    val gen = for {
      baskets <- Gen.oneOf(basketsGen, basketsGen.map(_.take(1)),
        Gen.choose(0, 30).flatMap(n => basketsGen.map(_.take(n))))
      nParts <- Gen.choose(1, 5)
      oneHoldsAll <- Gen.oneOf(true, false)
      part <- Gen.listOfN(baskets.size,
        if (oneHoldsAll) Gen.const(nParts - 1) else Gen.choose(0, nParts - 1))
      frac <- Gen.oneOf(0.05, 0.2, 0.4)
    } yield (baskets, nParts, part, frac)
    check(Prop.forAll(gen) { case (baskets, nParts, part, frac) =>
      // partition i holds exactly the baskets assigned to it, in order
      val parts = (0 until nParts).map(i => baskets.zip(part).collect {
        case (b, `i`) => b.toArray })
      val rdd = spark.sparkContext.parallelize(parts, nParts).flatMap(identity)
      val minsup = math.max(1L, math.ceil(frac * baskets.size).toLong)
      val counts = scala.collection.mutable.Map.empty[List[String], Long]
      baskets.foreach { b =>
        (1 to math.min(Son.MaxSize, b.size)).foreach { k =>
          b.combinations(k).foreach(c =>
            counts.update(c, counts.getOrElse(c, 0L) + 1))
        }
      }
      val want = counts.collect { case (c, n) if n >= minsup =>
        (c.mkString(","), c.size.toLong, n) }.toSet
      Son.mine(rdd, frac).toSet == want
    })
  }

  test("foldNearest over an RDD == an in-order brute-force fold of each " +
      "glom'd partition, merged in partition order: N, SUM, SUMSQ bit for bit") {
    import SparkTestSession._
    import graft.cluster.KMeans
    val vec = Gen.listOfN(3, Gen.chooseNum(-50.0, 50.0)).map(_.toArray)
    val gen = for {
      pts <- Gen.choose(0, 50).flatMap(Gen.listOfN(_, vec))
      cents <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, vec))
      nParts <- Gen.choose(1, 5)
      part <- Gen.listOfN(pts.size, Gen.choose(0, nParts - 1))
    } yield (pts, cents, nParts, part)
    check(Prop.forAll(gen) { case (pts, cents, nParts, part) =>
      val parts = (0 until nParts).map(i => pts.indices.collect {
        case j if part(j) == i => (j.toLong, pts(j), 0) })
      val rdd = spark.sparkContext.parallelize(parts, nParts).flatMap(identity)
      val cids = cents.indices.map(_ * 7 + 3) // ids are not positions
      val got = KMeans.foldNearest(rdd, cids.zip(cents))
      def d2(a: Array[Double], b: Array[Double]): Double =
        a.indices.foldLeft(0.0)((s, i) => s + (a(i) - b(i)) * (a(i) - b(i)))
      type St = (Long, Array[Double], Array[Double])
      def add(a: St, b: St): St = (a._1 + b._1,
        a._2.indices.map(i => a._2(i) + b._2(i)).toArray,
        a._3.indices.map(i => a._3(i) + b._3(i)).toArray)
      val want = rdd.glom().collect().foldLeft(Map.empty[Int, St]) {
        (acc, partPts) =>
          val local = scala.collection.mutable.LinkedHashMap.empty[Int, St]
          partPts.foreach { case (_, p, _) =>
            var best = 0
            cents.indices.foreach { i =>
              val (d, bd) = (d2(p, cents(i)), d2(p, cents(best)))
              if (d < bd || (d == bd && cids(i) < cids(best))) best = i
            }
            val c = cids(best)
            local(c) = add(local.getOrElse(c,
              (0L, new Array[Double](3), new Array[Double](3))),
              (1L, p, p.map(x => x * x)))
          }
          local.foldLeft(acc) { case (m, (c, st)) =>
            m.updated(c, m.get(c).fold(st)(add(_, st))) }
      }
      got.keySet == want.keySet && got.forall { case (c, st) =>
        val (n, sum, sumsq) = want(c)
        st.n == n && st.sum.sameElements(sum) && st.sumsq.sameElements(sumsq)
      }
    })
  }
}
