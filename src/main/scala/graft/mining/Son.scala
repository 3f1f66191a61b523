package graft.mining

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import graft.Tables._

/** SON + A-Priori frequent itemsets — the reference's two-phase
  * distributed mining (Assignment2/task1.py:47-172), Spark-first.
  *
  * Baskets are order → distinct part brands (the user→business basket
  * model of Assignment2/task1.py:25-35 transposed to the testdata).
  *
  * The baskets are persisted once as a typed RDD, and each pass is ONE
  * job on it that no Catalyst query re-plans.
  *
  * Phase 1 (`mapPartitions` A-Priori): each partition mines candidates
  * at the fractional support scaled to its basket count — the one place
  * per-partition imperative code is genuinely the right tool (SURVEY.md
  * A16) — and returns that count with them, so the total needs no job
  * of its own. If a set is globally frequent (count ≥ s·N) then some
  * partition has count_p ≥ s·n_p, so the candidate union has no false
  * negatives. Phase 2 counts candidates exactly with no shuffle: dense
  * per-partition hit arrays summed by `reduce`, replacing the
  * reference's closure-captured candidate list + reduceByKey
  * (task1.py:145-168).
  *
  * Scale: phase 1 is embarrassingly parallel; the candidate set crossing
  * the driver is itemsets (small — the SON contract), never data. At
  * 100 TB you'd raise partition count; local A-Priori memory is bounded
  * by the per-partition vocabulary, not by N.
  */
object Son {

  /** Support as a fraction of total baskets — scale-independent. */
  val SupportFrac = 0.005
  /** Cap mined itemset size so the SQL oracle (1..3-way self-joins) is
    * exhaustive. A public API user can raise it (the kernel is
    * unbounded); the registered query pins 3 for oracle parity. */
  val MaxSize = 3

  /** Local levelwise A-Priori over one partition's baskets.
    *
    * Fast path: items int-coded against the partition vocabulary,
    * itemsets as base-v packed longs (ascending ids), level counting
    * by a per-basket presence bitmap scanned over the (small)
    * candidate array — no string hashing or per-subset allocation in
    * the level loops. Falls back to the generic string-set form when
    * v^maxSize would overflow the packing (enormous vocabulary and
    * deep maxSize — never the registered query, which pins size 3). */
  private[graft] def aprioriLocal(
      baskets: Seq[Array[String]], supportFrac: Double, maxSize: Int)
  : Iterator[Seq[String]] = {
    val n = baskets.length
    if (n == 0) return Iterator.empty
    val items: Array[String] =
      baskets.iterator.flatten.toArray.distinct.sorted
    val v = items.length.toLong
    if (maxSize > 1 &&
        math.pow(v.toDouble, maxSize.toDouble) >= Long.MaxValue.toDouble / 4)
      return aprioriLocalGeneric(baskets, supportFrac, maxSize)
    val thr = math.max(1L, math.ceil(supportFrac * n).toLong)
    val idOf = items.iterator.zipWithIndex.toMap
    // basket strings are sorted, ids follow lexicographic order →
    // id arrays arrive ascending
    val bs: Array[Array[Int]] =
      baskets.iterator.map(_.map(idOf)).toArray
    // L1
    val c1 = new Array[Long](items.length)
    bs.foreach(_.foreach(i => c1(i) += 1))
    val out = mutable.ArrayBuffer[(Int, Long)]()
    var prev: Array[Long] =
      c1.indices.iterator.filter(c1(_) >= thr).map(_.toLong).toArray
    out ++= prev.iterator.map((1, _))
    def unpackIds(p: Long, k: Int): Array[Int] = {
      val ids = new Array[Int](k)
      var q = p
      var i = k - 1
      while (i >= 0) { ids(i) = (q % v).toInt; q /= v; i -= 1 }
      ids
    }
    val mark = new Array[Boolean](items.length)
    var k = 2
    while (prev.nonEmpty && k <= maxSize) {
      // candidate gen: prev is ascending, so equal (k-2)-prefixes are
      // contiguous blocks; pair every (a, b) in a block (a < b) and
      // keep candidates whose every (k-1)-subset is in prev
      val prevArr = prev
      def inPrev(p: Long): Boolean =
        java.util.Arrays.binarySearch(prevArr, p) >= 0
      val cands = mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < prevArr.length) {
        val pref = prevArr(i) / v
        var j = i
        while (j < prevArr.length && prevArr(j) / v == pref) j += 1
        var x = i
        while (x < j) {
          var y = x + 1
          while (y < j) {
            val c = prevArr(x) * v + prevArr(y) % v
            // subset check (the two generating subsets are in prev by
            // construction; test the remaining k-2)
            val ids = unpackIds(c, k)
            var ok = true
            var drop = 0
            while (ok && drop < k - 2) {
              var sub = 0L
              var t = 0
              while (t < k) {
                if (t != drop) sub = sub * v + ids(t)
                t += 1
              }
              ok = inPrev(sub)
              drop += 1
            }
            if (ok) cands += c
            y += 1
          }
          x += 1
        }
        i = j
      }
      if (cands.isEmpty) { prev = Array.emptyLongArray }
      else {
        // counting: presence bitmap per basket, k id-lookups per
        // candidate — O(baskets × candidates × k) primitive reads,
        // no allocation in the loop
        val candArr = cands.toArray // ascending by construction
        val candIds = candArr.map(unpackIds(_, k))
        val hits = new Array[Long](candArr.length)
        bs.foreach { b =>
          if (b.length >= k) {
            b.foreach(mark(_) = true)
            var ci = 0
            while (ci < candIds.length) {
              val ids = candIds(ci)
              var t = 0
              var all = true
              while (all && t < k) { all = mark(ids(t)); t += 1 }
              if (all) hits(ci) += 1
              ci += 1
            }
            b.foreach(mark(_) = false)
          }
        }
        prev = candArr.indices.iterator
          .filter(hits(_) >= thr).map(candArr).toArray
        out ++= prev.iterator.map((k, _))
      }
      k += 1
    }
    out.iterator.map { case (sz, p) =>
      unpackIds(p, sz).toSeq.map(items)
    }
  }

  /** The pre-int-coding form, kept for vocabularies too large to pack
    * (v^maxSize ≥ Long range). Identical semantics — SonSpec
    * cross-checks the two paths on random baskets. */
  private[graft] def aprioriLocalGeneric(
      baskets: Seq[Array[String]], supportFrac: Double, maxSize: Int)
  : Iterator[Seq[String]] = {
    val n = baskets.length
    val thr = math.max(1L, math.ceil(supportFrac * n).toLong)
    val c1 = mutable.Map.empty[String, Long]
    baskets.foreach(_.foreach(i => c1.update(i, c1.getOrElse(i, 0L) + 1)))
    var frequent: Seq[Seq[String]] =
      c1.iterator.filter(_._2 >= thr).map(kv => Seq(kv._1)).toSeq
    val out = mutable.ArrayBuffer[Seq[String]]()
    out ++= frequent
    var k = 2
    while (frequent.nonEmpty && k <= maxSize) {
      val prev = frequent.map(_.toVector).toSet
      val cands = (for {
        a <- prev.iterator
        b <- prev.iterator
        if a.init == b.init && a.last < b.last
        c = a :+ b.last
        if c.combinations(k - 1).forall(sub => prev.contains(sub.toVector))
      } yield c).toSet
      if (cands.isEmpty) { frequent = Nil }
      else {
        val counts = mutable.Map.empty[Vector[String], Long]
        baskets.foreach { b =>
          if (b.length >= k) {
            b.combinations(k).foreach { c =>
              val vv = c.toVector
              if (cands.contains(vv))
                counts.update(vv, counts.getOrElse(vv, 0L) + 1)
            }
          }
        }
        frequent = counts.iterator.filter(_._2 >= thr).map(_._1).toSeq
        out ++= frequent
      }
      k += 1
    }
    out.iterator
  }

  /** Order→brand baskets (distinct items, sorted for determinism). */
  def baskets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("basket"))

  /** q28: SON frequent itemsets at 0.5% support, sizes 1..3. Output:
    * comma-joined sorted itemset, size, exact support count. */
  def sonItemsets(s: SparkSession, d: String): DataFrame = {
    // repartition pins phase-1 parallelism: AQE coalesces the small
    // basket shuffle to ~1 partition, which would serialize the local
    // mining (this, not the mining itself, was q28's bench cost). The
    // fractional local threshold keeps SON's no-false-negative guarantee
    // at any partition count. Persisted: both passes read the baskets
    // without recomputing the join + groupBy.
    val b = baskets(s, d).select(col("basket"))
      .repartition(s.sparkContext.defaultParallelism)
      .queryExecution.toRdd.map { r =>
        val a = r.getArray(0)
        Array.tabulate(a.numElements())(a.getUTF8String(_).toString)
      }.persist(StorageLevel.MEMORY_AND_DISK)
    // sorted on the driver in Spark's string order (UTF-8 bytes): an
    // orderBy over the local rows would cost three more jobs
    s.createDataFrame(mine(b, SupportFrac)
      .sortBy { case (set, sz, _) => (sz, UTF8String.fromString(set)) })
      .toDF("itemset", "sz", "support")
  }

  /** Phase 1 and the basket count as ONE job: (Σ basket counts, the
    * deduped union of each partition's local A-Priori candidates). */
  private[graft] def phase1(b: RDD[Array[String]], supportFrac: Double)
  : (Long, Array[Vector[String]]) = {
    val parts = b.mapPartitions { it =>
      // toVector, not toSeq: a lazily-memoized LazyList's repeated
      // traversals (one per A-Priori level) dominate the runtime
      val bs = it.toVector
      Iterator.single((bs.length.toLong,
        aprioriLocal(bs, supportFrac, MaxSize).map(_.toVector).toVector))
    }.collect()
    (parts.map(_._1).sum, parts.iterator.flatMap(_._2).toArray.distinct)
  }

  /** SON over persisted baskets: (itemset, size, support), unordered.
    * Phase 2: the naive form (enumerate subsets, build a "a,b,c" string
    * per hit, hash-aggregate the strings) paid ~10⁸ string
    * constructions at sf0.1; instead items are int-coded against the
    * candidate vocabulary, candidates become sorted packed-long arrays
    * (one per size), baskets probe them by binary search, and each
    * partition emits dense per-size hit arrays that `reduce` sums
    * (Long counts do not depend on merge order). */
  private[graft] def mine(b: RDD[Array[String]], supportFrac: Double)
  : Seq[(String, Long, Long)] = {
    val (total, candidates) = phase1(b, supportFrac)
    val minsup = math.max(1L, math.ceil(supportFrac * total).toLong)
    val items = candidates.iterator.flatten.toArray.distinct.sorted
    // Packed keys need v^MaxSize to fit a Long (the pair loop also
    // forms pk*v prefix products — hence the /4 headroom). Mirror
    // aprioriLocal's guard: past ~2M candidate items fall back to
    // string-keyed counting rather than silently colliding packed keys.
    if (items.nonEmpty &&
        math.pow(items.length.toDouble, MaxSize.toDouble) >=
          Long.MaxValue.toDouble / 4)
      return phase2Generic(b, candidates, minsup)
    val v = items.length.toLong
    val idOf = items.iterator.zipWithIndex.toMap
    // candidates in (size, packed key) order; item ids follow
    // lexicographic order, so packing sorted-string itemsets yields
    // keys comparable across both sides
    val keyed = candidates.map(c =>
        (c, c.foldLeft(0L)((a, it0) => a * v + idOf(it0))))
      .sortBy { case (c, key) => (c.length, key) }
    val byK: Array[Array[Long]] = Array.tabulate(MaxSize)(k0 =>
      keyed.collect { case (c, key) if c.length == k0 + 1 => key })
    val dictB = b.sparkContext.broadcast((idOf, byK))
    val hits = b.mapPartitions { it =>
      val (idOf, byK) = dictB.value
      val hits = byK.map(a => new Array[Long](a.length))
      val pairs = byK(1) // size-2 candidates prune the triple loop
      it.foreach { basket =>
        val ids = basket.iterator.flatMap(idOf.get).toArray
        val n = ids.length
        var i = 0
        while (i < n) {
          val ki = java.util.Arrays.binarySearch(byK(0), ids(i).toLong)
          if (ki >= 0) hits(0)(ki) += 1
          var j = i + 1
          while (j < n) {
            val pk = ids(i).toLong * v + ids(j)
            val kj = java.util.Arrays.binarySearch(pairs, pk)
            if (kj >= 0) {
              hits(1)(kj) += 1
              // A-Priori: a frequent triple's (i,j) prefix is itself a
              // local candidate somewhere, so the union contains it —
              // extending only candidate pairs loses nothing
              var l = j + 1
              while (l < n) {
                val kt = java.util.Arrays.binarySearch(byK(2), pk * v + ids(l))
                if (kt >= 0) hits(2)(kt) += 1
                l += 1
              }
            }
            j += 1
          }
          i += 1
        }
      }
      Iterator.single(hits)
    }.reduce(addHits)
    frequent(keyed.map(_._1), hits.flatten, minsup)
  }

  /** Element-wise sum into `a` (a task's own result). */
  private def addHits(a: Array[Array[Long]], b: Array[Array[Long]])
  : Array[Array[Long]] = {
    a.indices.foreach(k => a(k).indices.foreach(i => a(k)(i) += b(k)(i)))
    a
  }

  /** The rows of the candidates whose hit count reaches `minsup`. */
  private def frequent(cands: Array[Vector[String]], hits: Array[Long],
      minsup: Long): Seq[(String, Long, Long)] =
    cands.indices.filter(hits(_) >= minsup).map(ix =>
      (cands(ix).mkString(","), cands(ix).length.toLong, hits(ix)))

  /** Exact phase-2 counting with string itemset keys — the fallback
    * when the candidate vocabulary is too large to base-v pack into a
    * Long. Same shape as the packed path (a dense hit array per
    * partition, summed by `reduce`), just heavier keys; SonSpec pins
    * agreement between the two paths. */
  private[graft] def phase2Generic(b: RDD[Array[String]],
      candidates: Array[Vector[String]], minsup: Long)
  : Seq[(String, Long, Long)] = {
    val candB = b.sparkContext.broadcast(candidates)
    val hits = b.mapPartitions { it =>
      val index = candB.value.iterator.zipWithIndex.toMap
      val vocab = candB.value.iterator.flatten.toSet
      val hits = new Array[Long](candB.value.length)
      it.foreach { basket =>
        val bs = basket.filter(vocab)
        (1 to math.min(MaxSize, bs.length)).foreach(k => bs.combinations(k)
          .foreach(c => index.get(c.toVector).foreach(hits(_) += 1)))
      }
      Iterator.single(Array(hits))
    }.reduce(addHits).head
    frequent(candidates, hits, minsup)
  }

  /** Oracle: exhaustive 1/2/3-itemset counting by self-joins. CTEs are
    * MATERIALIZED — DuckDB otherwise re-inlines the unnest pipeline into
    * each self-join arm, which blows past 100× the runtime. */
  val sonItemsetsSql: String =
    s"""WITH b AS MATERIALIZED (SELECT l_orderkey AS ok,
       |             list_distinct(list(p_brand)) AS basket
       |           FROM lineitem JOIN part ON l_partkey = p_partkey
       |           GROUP BY 1),
       |tot AS MATERIALIZED (
       |  SELECT greatest(1, CAST(ceil($SupportFrac * count(*)) AS BIGINT))
       |    AS minsup FROM b),
       |e AS MATERIALIZED (SELECT ok, unnest(basket) AS item FROM b),
       |s1 AS (SELECT item AS itemset, 1 AS sz, count(*) AS support
       |       FROM e GROUP BY 1),
       |s2 AS (SELECT a.item || ',' || b.item AS itemset, 2 AS sz,
       |         count(*) AS support
       |       FROM e a JOIN e b ON a.ok = b.ok AND a.item < b.item
       |       GROUP BY 1),
       |s3 AS (SELECT a.item || ',' || b.item || ',' || c.item AS itemset,
       |         3 AS sz, count(*) AS support
       |       FROM e a JOIN e b ON a.ok = b.ok AND a.item < b.item
       |                JOIN e c ON a.ok = c.ok AND b.item < c.item
       |       GROUP BY 1),
       |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |      UNION ALL SELECT * FROM s3)
       |SELECT itemset, CAST(sz AS BIGINT) AS sz, support
       |FROM u, tot WHERE support >= minsup
       |ORDER BY sz, itemset""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_son_itemsets" -> (sonItemsets _))

  val oracle: Map[String, String] = Map(
    "q28_son_itemsets" -> sonItemsetsSql)
}
