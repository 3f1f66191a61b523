package graft.cluster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables._

/** K-Means over `embeddings` (64-d float vectors, 10 planted labels).
  *
  * Deterministic throughout: init centroids are the k smallest vec_ids
  * (RNG parity with the reference's random.sample is impossible across
  * runtimes — correctness is judged by NMI, the reference's own grading
  * metric, in ClusterSpec; SURVEY §5).
  *
  * Dataflow per Lloyd iteration: ONE job on the [[persistPoints]] RDD,
  * no shuffle, no Catalyst query — each partition folds its points into
  * per-centroid partial sums against the k×d centroid matrix, and the
  * driver merges them: only k×d summaries, the scalable K-Means shape.
  */
object KMeans {

  val K = 10
  val Dim = 64
  val LloydIters = 5

  private val vdExpr = "transform(embedding, x -> CAST(x AS DOUBLE))"
  private val vdSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** (vec_id, vd) plus any `keep` columns of `embeddings`. */
  def points(s: SparkSession, d: String, keep: String*): DataFrame =
    embeddings(s, d).select(
      Seq(col("vec_id"), expr(vdExpr).as("vd")) ++ keep.map(col): _*)

  /** Argmin-over-centroids expression TEXT — references the centroid
    * matrix by index into a single `__cents` column (attached by
    * [[withAssign]] as one array<array<double>> literal), so the text is
    * O(k) regardless of d. The earlier form inlined every coordinate as
    * a SQL double literal — k×d string literals — which at one order of
    * magnitude more clusters or dimensions becomes a megabyte expression
    * tree and a codegen blowup. Struct ordering (dist2 first, cid
    * second) makes array_sort the (dist², cid) argmin. */
  private[graft] def assignStructs(cids: Seq[Int]): String = {
    val structs = cids.zipWithIndex.map { case (cid, i) =>
      s"named_struct('dist2', graft_dist2(vd, `__cents`[$i]), 'cid', $cid)"
    }.mkString(", ")
    s"array_sort(array($structs))[0]"
  }

  /** Nearest-centroid assignment struct column `out` (fields dist2,
    * cid) over a frame with a `vd` array<double> column — pure map-side
    * codegen'd expressions, no shuffle. dist² runs through the native
    * graft_dist2 kernel (graft.plans.ArrayKernels): the HOF form
    * allocated a zip_with array per centroid per point, k allocations
    * per row in the hottest clustering loop. The centroid matrix rides
    * as ONE typed literal (Catalyst folds the per-centroid index into
    * compact array literals), never as k×d SQL text. */
  private[graft] def withAssign(df: DataFrame,
      centroids: Seq[(Int, Array[Double])], out: String): DataFrame =
    df.withColumn("__cents", typedLit(centroids.map(_._2.toSeq)))
      .withColumn(out, expr(assignStructs(centroids.map(_._1))))
      .drop("__cents")

  /** q39: one Lloyd assignment step from the deterministic init
    * (centroids = vectors with the K smallest vec_ids): every point to
    * its nearest centroid; per-centroid count and mean distance². The
    * SQL-checkable kernel of the iterative algorithm. */
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val cents = points(s, d).filter(col("vec_id") < K)
      .collect()
      .map(r => (r.getLong(0).toInt,
        r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    withAssign(points(s, d), cents, "a")
      .select(col("vec_id"), col("a.cid").as("centroid_id"),
        col("a.dist2").as("dist2"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_assigned"),
        // floor-half-up at both rounding points (dist² ≥ 0, so +0.5
        // floor is half-up) — rounding-mode-independent cross-engine
        (floor(sum((floor(col("dist2") * 1e6 + 0.5) / 1e6)
            .cast("decimal(24,6)"))
          .cast("double") / count(lit(1)) * 1e4 + 0.5) / 1e4)
          .as("avg_dist2"))
      .orderBy(col("centroid_id"))
  }

  val kmeansAssignSql: String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, $vdSql AS vd FROM embeddings),
       |c AS MATERIALIZED (
       |  SELECT vec_id AS cid, vd AS cv FROM e WHERE vec_id < $K),
       |dist AS (SELECT e.vec_id, c.cid,
       |    list_sum(list_transform(generate_series(1, $Dim),
       |      i -> (e.vd[i] - c.cv[i]) * (e.vd[i] - c.cv[i]))) AS dist2
       |  FROM e CROSS JOIN c),
       |a AS (SELECT vec_id, cid, dist2, row_number() OVER
       |        (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
       |      FROM dist)
       |SELECT cid AS centroid_id, count(*) AS n_assigned,
       |  floor(CAST(sum(CAST(floor(dist2 * 1e6 + 0.5) / 1e6
       |          AS DECIMAL(24,6))) AS DOUBLE)
       |        / count(*) * 1e4 + 0.5) / 1e4 AS avg_dist2
       |FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Round a centroid coordinate to 6 decimals via scaled
    * floor-half-up — the EXACT IEEE operation sequence the DuckDB
    * oracle runs (floor(x*1e6+0.5)/1e6), so the two engines can only
    * disagree if the underlying means differ, never on rounding mode.
    * Pinning every iteration's centroids to 6 dp makes the whole
    * Lloyd loop bit-reproducible across engines AND across partition
    * counts: the per-dimension mean is a float sum whose order
    * depends on partitioning, and the ~1e-13 relative noise that
    * injects would otherwise compound over iterations and flip
    * boundary-point assignments. */
  private def round6(v: Double): Double =
    math.floor(v * 1e6 + 0.5) / 1e6

  /** Nearest centroid id by (dist², cid): graft_dist2's left-to-right
    * sum and [[withAssign]]'s tie-break, so both assign alike. */
  private[cluster] def nearest(p: Array[Double],
      cents: Array[(Int, Array[Double])]): Int = {
    var best = Int.MaxValue; var bestD = Double.PositiveInfinity
    cents.foreach { case (cid, c) =>
      val d = Bfr.d2(p, c)
      if (d < bestD || (d == bestD && cid < best)) { bestD = d; best = cid }
    }
    best
  }

  /** (vec_id, vd, label); label 0 when the frame has none. */
  private[graft] type Pt = (Long, Array[Double], Int)

  /** A (vec_id, vd[, label]) frame as a typed RDD persisted
    * MEMORY_AND_DISK, in the frame's own partitions — so fold orders and
    * float sums are the frame's. Every round of a fit reads it; the
    * between-query sweep ([[graft.Sessions.dropCheckpoints]]) drops it. */
  private[graft] def persistPoints(frame: DataFrame): RDD[Pt] =
    frame.queryExecution.toRdd.map { r =>
      (r.getLong(0), r.getArray(1).toDoubleArray(),
        if (r.numFields > 2) r.getInt(2) else 0)
    }.persist(StorageLevel.MEMORY_AND_DISK)

  /** One assignment step as ONE job with no Exchange: per-partition
    * N/SUM/SUMSQ of each non-empty cluster, merged on the driver. */
  private[graft] def foldNearest(pts: RDD[Pt],
      cents: Seq[(Int, Array[Double])]): Map[Int, Bfr.CStats] = {
    val cs = cents.toArray
    Bfr.mergeInOrder(pts.mapPartitions(it => Bfr.foldBy(
      it.map { case (_, p, _) => (nearest(p, cs), p) }).iterator).collect().toSeq)
  }

  /** Lloyd's centroids: init = the k smallest vec_ids or `init` (BFR's
    * sample seeds), then one [[foldNearest]] job per iteration; means
    * are [[round6]]-pinned and an empty cluster keeps its centroid. */
  private[graft] def lloydCentroids(pts: RDD[Pt], k: Int, iters: Int,
      init: Option[Seq[(Int, Array[Double])]] = None)
  : Seq[(Int, Array[Double])] = {
    var cents: Seq[(Int, Array[Double])] = init.getOrElse(
      pts.takeOrdered(k)(Ordering.by[Pt, Long](_._1))
        .map { case (id, p, _) => (id.toInt, p) }.toSeq)
    for (_ <- 1 to iters) {
      val byId = foldNearest(pts, cents)
      cents = cents.map { case (cid, old) =>
        (cid, byId.get(cid).fold(old)(st => st.sum.map(v => round6(v / st.n))))
      }
    }
    cents
  }

  /** Lloyd's algorithm ([[lloydCentroids]]) over an arbitrary (vec_id,
    * vd) points frame. Returns (vec_id, cluster). */
  def lloydOn(ptsIn: DataFrame, k: Int, iters: Int): DataFrame = {
    val pts = persistPoints(ptsIn.select(col("vec_id"), col("vd")))
    val cents = lloydCentroids(pts, k, iters).toArray
    ptsIn.sparkSession.createDataFrame(pts.map { case (id, p, _) =>
      (id, nearest(p, cents)) }).toDF("vec_id", "cluster")
  }

  /** Run Lloyd's algorithm on `embeddings`. */
  def lloyd(s: SparkSession, d: String, k: Int = K,
      iters: Int = LloydIters): DataFrame = lloydOn(points(s, d), k, iters)

  /** q40: full K-Means (5 Lloyd iterations) cluster sizes, hash-
    * verified: the DuckDB oracle unrolls all five assign/update
    * iterations as CTEs. Cross-engine determinism holds because every
    * iteration's centroids are pinned to 6 decimals on both sides
    * (see [[round6]]) — identical centroid literals ⇒ identical dist²
    * (same left-to-right order) ⇒ identical argmin with the (dist²,
    * cid) tie-break. ClusterSpec additionally asserts clustering
    * quality (NMI = 1 on synthetic blobs; WCSS improvement on the
    * embeddings — the planted labels are only ~41% separable, so
    * label-NMI is not a usable gate there). */
  def kmeansClusters(s: SparkSession, d: String): DataFrame = {
    // the census is the N of one more fold against the final centroids
    val pts = persistPoints(points(s, d))
    val byId = foldNearest(pts, lloydCentroids(pts, K, LloydIters))
    s.createDataFrame(byId.toSeq.sortBy(_._1).map { case (c, st) => (c, st.n) })
      .toDF("cluster", "csize")
  }

  /** The unrolled-Lloyd CTE prefix (the LPA-oracle idiom applied to
    * K-Means), parameterized so the q40 oracle AND the q146 IVF
    * oracle share one generator: `e` (vec_id, vd from embeddings) →
    * c0 (k smallest vec_ids) → a1/m1/c1 … a<iters>/m<iters>/c<iters> →
    * `af` = (vec_id, vd, cid), the final assignment under c<iters> —
    * exactly [[lloydOn]]'s return. Callers prepend WITH and append
    * their own SELECT. CTEs MATERIALIZED — DuckDB otherwise re-inlines
    * each iteration into the next and the plan explodes. */
  def lloydCtesSql(k: Int, iters: Int): String = {
    val dist = s"""list_sum(list_transform(generate_series(1, $Dim),
                  |          i -> (e.vd[i] - c.cv[i]) * (e.vd[i] - c.cv[i])))""".stripMargin
    val rounds = (1 to iters).map { n =>
      s"""a$n AS MATERIALIZED (
         |  SELECT vec_id, vd, cid FROM (
         |    SELECT e.vec_id, e.vd, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        $dist ASC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN c${n - 1} c) t WHERE rn = 1),
         |m$n AS MATERIALIZED (
         |  SELECT cid, list(mn ORDER BY dim) AS cv FROM (
         |    SELECT a.cid, g.dim,
         |      floor(avg(a.vd[g.dim]) * 1e6 + 0.5) / 1e6 AS mn
         |    FROM a$n a CROSS JOIN
         |      (SELECT unnest(generate_series(1, $Dim)) AS dim) g
         |    GROUP BY a.cid, g.dim) t GROUP BY cid),
         |c$n AS MATERIALIZED (
         |  SELECT p.cid, coalesce(m.cv, p.cv) AS cv
         |  FROM c${n - 1} p LEFT JOIN m$n m USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, $vdSql AS vd FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(vec_id AS INT) AS cid, vd AS cv FROM e
       |  ORDER BY vec_id LIMIT $k),
       |$rounds,
       |af AS MATERIALIZED (
       |  SELECT vec_id, vd, cid FROM (
       |    SELECT e.vec_id, e.vd, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        $dist ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c$iters c) t WHERE rn = 1)""".stripMargin
  }

  /** q40's oracle: unrolled Lloyd, then the cluster census. */
  val kmeansClustersSql: String =
    s"""WITH ${lloydCtesSql(K, LloydIters)}
       |SELECT cid AS cluster, count(*) AS csize
       |FROM af GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q39_kmeans_assign" -> (kmeansAssign _),
    "q40_kmeans" -> (kmeansClusters _))

  val oracle: Map[String, String] = Map(
    "q39_kmeans_assign" -> kmeansAssignSql,
    "q40_kmeans" -> kmeansClustersSql)
}
