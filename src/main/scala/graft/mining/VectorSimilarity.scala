package graft.mining

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-d).
  *
  * Two regimes:
  *  - [[cosineTopK]]: exact brute-force cosine top-k — the correctness
  *    baseline. All math is codegen'd higher-order functions
  *    (`zip_with` + `aggregate` dot products), no UDFs. The cross join
  *    is query-side × corpus-side; at 100 TB you bound the query side
  *    (it's a top-k *per query*, not all-pairs) and broadcast it, so the
  *    corpus streams through map-side only — no shuffle of the corpus.
  *  - [[annHyperplaneLsh]]: the scale path — 16 deterministic ±1
  *    hyperplanes hash each vector to a 16-bit bucket (sign-random
  *    projection); candidates = same-bucket vectors, ranked by exact
  *    cosine. Bucketing is one map-side expression; the join is a hash
  *    join on bucket id. Deterministic hyperplanes (seeded from the
  *    portable md5 family) make the whole pipeline oracle-replayable.
  */
object VectorSimilarity {

  val Dim = 64
  val TopK = 3
  /** Query-side selection: small, explicit, broadcastable. */
  val QueryPred = "vec_id < 10"

  private val vdExpr = "transform(embedding, x -> CAST(x AS DOUBLE))"
  private val vdSql =
    "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  // graft_dot (native codegen kernel, graft.plans.ArrayKernels) is
  // bit-identical to the aggregate/zip_with HOF form — same
  // left-to-right summation — but runs as one primitive loop inside
  // whole-stage codegen (q45 at sf0.1: 403 s HOF → seconds native).
  private def withNorm(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), expr(vdExpr).as("vd"))
      .withColumn("nrm", expr("sqrt(graft_dot(vd, vd))"))

  // ---------------------------------------------------------------- q26
  /** q26: exact cosine top-3 neighbors for each query vector. */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val q = base.filter(expr(QueryPred))
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("nrm").as("qn"))
    val c = base.select(col("vec_id").as("nid"), col("vd").as("nv"),
      col("nrm").as("nn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    broadcast(q).join(c, col("qid") =!= col("nid"))
      .withColumn("dot", expr("graft_dot(qv, nv)"))
      .withColumn("cos", floor(col("dot") / (col("qn") * col("nn")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val cosineTopKSql: String =
    s"""WITH e AS (SELECT vec_id, $vdSql AS vd FROM embeddings),
       |n AS (SELECT vec_id, vd,
       |        sqrt(list_sum(list_transform(vd, x -> x * x))) AS nrm
       |      FROM e),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |        floor(list_sum(list_transform(generate_series(1, $Dim),
       |            i -> q.vd[i] * c.vd[i])) / (q.nrm * c.nrm)
       |          * 1e6 + 0.5) / 1e6 AS cos
       |      FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |      WHERE q.$QueryPred),
       |r AS (SELECT qid, nid, cos, row_number() OVER
       |        (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
       |      FROM p)
       |SELECT qid, rank, nid, cos FROM r WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Multi-table sign-random-projection LSH: 4 tables × 8 hyperplanes.
    * One 16-bit table left every bucket a singleton on this corpus; L
    * smaller tables is the standard recall/candidate-count dial (recall
    * ≈ 1 − (1 − p^8)^4 for bit-agreement probability p). */
  val NumTables = 4
  val PlanesPerTable = 8

  /** Deterministic ±1 hyperplane coefficients: bit 0 of
    * md5("p<table>_<plane>_<dim>") — reproducible in any engine. */
  lazy val planes: Seq[Seq[Seq[Int]]] =
    (0 until NumTables).map { t =>
      (0 until PlanesPerTable).map { j =>
        (0 until Dim).map { k =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"p${t}_${j}_$k".getBytes("UTF-8"))
          if ((md(0) & 1) == 1) 1 else -1
        }
      }
    }

  private def bucketExpr(t: Int, arr: String): String =
    (0 until PlanesPerTable).map { j =>
      val lits = planes(t)(j).map(v => s"${v}D").mkString(", ")
      s"(CASE WHEN aggregate(zip_with($arr, array($lits), " +
        s"(x, s) -> x * s), 0D, (a, x) -> a + x) >= 0 " +
        s"THEN ${1L << j}L ELSE 0L END)"
    }.mkString(" + ")

  private def bucketSql(t: Int, arr: String): String =
    (0 until PlanesPerTable).map { j =>
      val lits = planes(t)(j).map(_.toString).mkString(", ")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, $Dim), " +
        s"i -> $arr[i] * ([$lits])[i])) >= 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  /** q27: ANN search — hash into all 4 tables map-side, explode to
    * (table, bucket) keys, equi-join query vs corpus buckets, dedup
    * candidates, rank by exact cosine, top-3 per query. */
  def annHyperplaneLsh(s: SparkSession, d: String): DataFrame = {
    val tableStructs = (0 until NumTables).map { t =>
      s"named_struct('t', $t, 'bkt', (${bucketExpr(t, "vd")}))"
    }.mkString(", ")
    val base = withNorm(s, d)
      .select(col("vec_id"), col("vd"), col("nrm"),
        explode(expr(s"array($tableStructs)")).as("tb"))
      .select(col("vec_id"), col("vd"), col("nrm"),
        col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    val q = base.filter(expr(QueryPred))
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("nrm").as("qn"), col("t"), col("bkt"))
    val c = base.select(col("vec_id").as("nid"), col("vd").as("nv"),
      col("nrm").as("nn"), col("t"), col("bkt"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    broadcast(q).join(c, Seq("t", "bkt"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("qv"), col("qn"),
        col("nid"), col("nv"), col("nn"))
      .distinct()
      .withColumn("dot", expr("graft_dot(qv, nv)"))
      .withColumn("cos", floor(col("dot") / (col("qn") * col("nn")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val annHyperplaneLshSql: String = {
    val bucketCols = (0 until NumTables)
      .map(t => s"${bucketSql(t, "vd")} AS b$t").mkString(",\n        ")
    val tbRows = (0 until NumTables)
      .map(t => s"SELECT vec_id, vd, nrm, $t AS t, b$t AS bkt FROM n")
      .mkString("\n        UNION ALL ")
    s"""WITH e AS (SELECT vec_id, $vdSql AS vd FROM embeddings),
       |n AS (SELECT vec_id, vd,
       |        sqrt(list_sum(list_transform(vd, x -> x * x))) AS nrm,
       |        $bucketCols
       |      FROM e),
       |tb AS ($tbRows),
       |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |         FROM tb q JOIN tb c
       |           ON q.t = c.t AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
       |         WHERE q.$QueryPred),
       |p AS (SELECT qid, nid,
       |        floor(list_sum(list_transform(generate_series(1, $Dim),
       |            i -> a.vd[i] * b.vd[i])) / (a.nrm * b.nrm)
       |          * 1e6 + 0.5) / 1e6 AS cos
       |      FROM cand JOIN n a ON a.vec_id = qid
       |                JOIN n b ON b.vec_id = nid),
       |r AS (SELECT qid, nid, cos, row_number() OVER
       |        (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
       |      FROM p)
       |SELECT qid, rank, nid, cos FROM r WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q45
  val NearDupCos = 0.4
  /** Threshold at/above which [[nearDupPairs]] routes through the
    * bucketed LSH path by default. Below it, sign-random-projection
    * buckets lose recall (bit-agreement probability 1 − θ/π drops too
    * far from 1), so the exact pair scan is the honest form. */
  val DedupGradeCos = 0.8

  /** Public near-dup entry point — dispatches on the threshold.
    * Dedup-grade thresholds (≥ [[DedupGradeCos]]) take the bucketed
    * path: candidate pairs come from hyperplane-bucket equi-joins
    * (cost ~ Σ bucket², never n²), then exact-cosine verification —
    * this is THE default at scale; a 100 TB dedup pass must not
    * enumerate all pairs. Exploratory low thresholds take the exact
    * broadcast pair scan, O(n²) by construction, intended for bounded
    * corpora (no LSH family prunes at τ≈0.4 without recall loss). */
  def nearDupPairs(s: SparkSession, d: String, threshold: Double)
  : DataFrame = {
    val pts = embeddings(s, d).select(col("vec_id"), expr(vdExpr).as("vd"))
    (if (usesBucketedPath(threshold)) nearDupPairsBucketedOn(pts, threshold)
     else nearDupPairsExactOn(pts, threshold))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private[graft] def usesBucketedPath(threshold: Double): Boolean =
    threshold >= DedupGradeCos

  /** Bucketed near-dup join over an arbitrary (vec_id, vd) frame: hash
    * each vector into [[NumTables]] hyperplane tables map-side, self
    * equi-join the (table, bucket) keys CARRYING IDS ONLY (the q24
    * lesson: pair fan-out × 64-double payload is what hurts), dedup
    * candidate pairs across tables, then join vectors back for the
    * exact-cosine verify. Recall is the standard multi-table OR bound
    * (1 − (1 − p^planes)^tables, p = 1 − θ/π); exact duplicates are
    * found with probability 1 — identical vectors share every bucket. */
  def nearDupPairsBucketedOn(ptsIn: DataFrame, threshold: Double)
  : DataFrame = {
    val tableStructs = (0 until NumTables).map { t =>
      s"named_struct('t', $t, 'bkt', (${bucketExpr(t, "vd")}))"
    }.mkString(", ")
    val vecs = ptsIn.withColumn("nrm", expr("sqrt(graft_dot(vd, vd))"))
    val buck = vecs
      .select(col("vec_id"), explode(expr(s"array($tableStructs)")).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    val cand = buck.select(col("vec_id").as("vec_a"), col("t"), col("bkt"))
      .join(buck.select(col("vec_id").as("vec_b"), col("t"), col("bkt")),
        Seq("t", "bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("vd").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("vd").as("vb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("cos", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), (floor(col("cos") * 1e6 + 0.5) / 1e6).as("cos"))
  }

  /** Exact all-pairs cosine scan over an arbitrary (vec_id, vd) frame —
    * broadcast one side, O(n²) pairs by construction. */
  def nearDupPairsExactOn(ptsIn: DataFrame, threshold: Double)
  : DataFrame = {
    val base = ptsIn.withColumn("nrm", expr("sqrt(graft_dot(vd, vd))"))
    val a = base.select(col("vec_id").as("vec_a"), col("vd").as("va"),
      col("nrm").as("na"))
    val b = base.select(col("vec_id").as("vec_b"), col("vd").as("vb"),
      col("nrm").as("nb"))
    broadcast(a).join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), (floor(col("cos") * 1e6 + 0.5) / 1e6).as("cos"))
  }

  /** q45: embedding-cosine near-duplicate pairs — every pair with
    * cosine ≥ 0.4 (this corpus's pairwise max is ≈0.5: no true dups
    * exist, so the threshold demonstrates the operator on the corpus's
    * own similarity scale, and [[nearDupPairs]] legitimately routes it
    * to the exact scan). At dedup-grade thresholds the SAME entry point
    * takes the bucketed path by default — SimilaritySpec proves the two
    * paths agree on planted duplicates and that the high-threshold plan
    * contains no nested-loop join. */
  def embedNearDup(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d, NearDupCos)

  val embedNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, $vdSql AS vd FROM embeddings),
       |n AS (SELECT vec_id, vd,
       |        sqrt(list_sum(list_transform(vd, x -> x * x))) AS nrm
       |      FROM e),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |        list_sum(list_transform(generate_series(1, $Dim),
       |            i -> a.vd[i] * b.vd[i])) / (a.nrm * b.nrm) AS cos
       |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, floor(cos * 1e6 + 0.5) / 1e6 AS cos
       |FROM p WHERE cos >= $NearDupCos ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Cosine threshold for SemDeDup — set at this corpus's own
    * similarity scale (pairwise max ≈ 0.5, same rationale as q45's
    * [[NearDupCos]]) so the keep/drop policy is exercised, not
    * vacuous. */
  val SemDedupCos = 0.4

  /** q94: SemDeDup — semantic deduplication via cluster-then-pairwise
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): coarse-quantize the embedding
    * space with k-means, compute exact pairwise cosine ONLY within a
    * cluster, and keep one representative per near-duplicate
    * neighborhood. The quantizer here is the q39 assignment kernel
    * (one Lloyd step from the deterministic min-id init) — SemDeDup
    * needs buckets, not a converged clustering, and the one-step form
    * is what the SQL oracle can replay exactly. Keep policy: a vector
    * is dropped iff a SAME-CLUSTER vector with a smaller id is within
    * the threshold (the paper's keep-one-per-neighborhood with
    * id-order determinism; transitive-closure grouping is q65's job,
    * over text).
    *
    * Scale: the paper's k grows with the corpus so clusters stay
    * bounded (they run k ≈ 10⁵ on LAION); the pairwise stage is
    * Σ(cluster size)², never n². The self-join carries the vector
    * payload INTO the join task — shuffle volume is 2× the corpus
    * (cluster-keyed), and the (n/k)² candidate rows are generated and
    * cosine-filtered inside the stage without ever being shuffled
    * (ids-only would add two pair-keyed lookup shuffles for nothing:
    * unlike q24's banded LSH there is no cross-table duplicate
    * fan-out for a distinct() to collapse). */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupOn(graft.cluster.KMeans.points(s, d),
      graft.cluster.KMeans.K, SemDedupCos)
      .orderBy(col("vec_id"))

  /** q94 over an arbitrary (vec_id, vd) frame: seeds are the k
    * smallest vec_ids (the q39 init). */
  def semDedupOn(ptsIn: DataFrame, k: Int, threshold: Double)
  : DataFrame = {
    val pts = ptsIn.localCheckpoint() // kept: 2 readers, seed collect job
    val cents = pts.filter(col("vec_id") < k).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val asg = graft.cluster.KMeans.withAssign(pts, cents, "a")
      .select(col("vec_id"), col("a.cid").cast("long").as("cluster"),
        col("vd"))
      .withColumn("nrm", expr("sqrt(graft_dot(vd, vd))"))
      .localCheckpoint() // kept: 3 readers (pair sides, verdict), no shuffle
    val pairs = asg.select(col("cluster"), col("vec_id").as("va"),
        col("vd").as("xa"), col("nrm").as("na"))
      .join(asg.select(col("cluster"), col("vec_id").as("vb"),
        col("vd").as("xb"), col("nrm").as("nb")), Seq("cluster"))
      .filter(col("va") < col("vb") &&
        expr("graft_dot(xa, xb)") / (col("na") * col("nb"))
          >= threshold)
    val drops = pairs.select(col("vb").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    asg.join(drops, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        col("dropped").isNull.as("keep"))
  }

  val semDedupSql: String = {
    val k = graft.cluster.KMeans.K
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, $vdSql AS vd FROM embeddings),
       |c AS MATERIALIZED (
       |  SELECT vec_id AS cid, vd AS cv FROM e WHERE vec_id < $k),
       |dist AS (SELECT e.vec_id, c.cid,
       |    list_sum(list_transform(generate_series(1, $Dim),
       |      i -> (e.vd[i] - c.cv[i]) * (e.vd[i] - c.cv[i]))) AS dist2
       |  FROM e CROSS JOIN c),
       |a AS (SELECT vec_id, cid, row_number() OVER
       |        (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
       |      FROM dist),
       |asg AS MATERIALIZED (
       |  SELECT e.vec_id, CAST(a.cid AS BIGINT) AS cluster, e.vd,
       |    sqrt(list_sum(list_transform(e.vd, x -> x * x))) AS nrm
       |  FROM e JOIN a ON a.vec_id = e.vec_id AND a.rn = 1),
       |p AS (SELECT x.vec_id AS va, y.vec_id AS vb
       |      FROM asg x JOIN asg y
       |        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |      WHERE list_sum(list_transform(generate_series(1, $Dim),
       |          i -> x.vd[i] * y.vd[i])) / (x.nrm * y.nrm)
       |        >= $SemDedupCos),
       |drops AS (SELECT DISTINCT vb FROM p)
       |SELECT asg.vec_id, asg.cluster, (drops.vb IS NULL) AS keep
       |FROM asg LEFT JOIN drops ON drops.vb = asg.vec_id
       |ORDER BY asg.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- IVF
  /** IVF (inverted-file) ANN — the other standard scale path: a coarse
    * quantizer (K-Means centroids) partitions the corpus into nlist
    * inverted lists; a query probes only its nprobe nearest lists and
    * ranks those candidates exactly. At 100 TB the lists are the
    * partitioning key: a query touches nprobe/nlist of the data instead
    * of all of it. Not a registered driver query (the coarse quantizer
    * is iterative — no SQL oracle); SimilaritySpec checks recall against
    * the exact top-k. */
  def ivfSearch(s: SparkSession, d: String, nlist: Int = 16,
      nprobe: Int = 4, topK: Int = TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = graft.cluster.KMeans.points(s, d)
    // coarse quantizer: k-means over the corpus (deterministic init)
    val assign = graft.cluster.KMeans.lloydOn(pts, nlist, 3)
    val lists = pts.join(assign, "vec_id")
      .select(col("vec_id"), col("vd"), col("cluster").as("list_id"))
      .localCheckpoint() // kept: 3 readers over the Lloyd assignment
    // centroids table for probe selection — per-(list, component)
    // means, the same bounded-state shape as KMeans.lloydOn: a
    // collect_list(vd) per list would buffer a whole IVF list
    // (corpus/nlist vectors) in ONE aggregation buffer; here no
    // buffer exceeds d elements
    val cents = lists
      .select(col("list_id"), posexplode(col("vd")).as(Seq("pos", "v")))
      .groupBy(col("list_id"), col("pos"))
      // 6-dp floor-half-up pin, like every Lloyd centroid (KMeans
      // round6): makes the probe-selection dist² a function of
      // identical doubles in both engines, which is what lets q146
      // hash-verify the WHOLE IVF pipeline
      .agg((floor(avg(col("v")) * 1e6 + 0.5) / 1e6).as("m"))
      .groupBy(col("list_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
        "x -> x.m)").as("centroid"))
    val base = lists.withColumn("nrm",
      expr("sqrt(aggregate(vd, 0D, (a, x) -> a + x * x))"))
    val q = base.filter(expr(QueryPred))
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("nrm").as("qn"))
    // probe lists: nprobe nearest centroids per query
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cdist").asc, col("list_id").asc)
    val probes = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("cdist", expr("graft_dist2(qv, centroid)"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("list_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    probes.join(base.select(col("vec_id").as("nid"), col("vd").as("nv"),
        col("nrm").as("nn"), col("list_id")), Seq("list_id"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", expr("graft_dot(qv, nv)"))
      .withColumn("cos", floor(col("dot") / (col("qn") * col("nn")) * 1e6 + 0.5) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  // ---------------------------------------------------------------- q60
  /** q60: symmetric int8 quantization of the embedding column — the
    * storage/serving compression step of an embedding pipeline
    * (scale = max|x|/127 per vector, q_i = round-half-up(x_i/scale)),
    * reported as per-vector scale, reconstruction RMSE, and nonzero
    * count. Pure map-side expression work over one scan — linear at
    * any corpus size, no shuffle at all. floor(x+0.5) rather than
    * round(): Spark's HALF_UP and DuckDB's HALF_EVEN disagree on .5
    * boundaries, floor is bit-identical in both. */
  def quantizeInt8(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), expr(vdExpr).as("v"))
      .withColumn("scale",
        expr("array_max(transform(v, x -> abs(x))) / 127.0"))
      .withColumn("q", expr(
        "CASE WHEN scale = 0.0 THEN transform(v, x -> 0) " +
          "ELSE transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) END"))
      .select(col("vec_id"),
        (floor(col("scale") * 1e6 + 0.5) / 1e6).as("scale"),
        (floor(expr(
          "sqrt(aggregate(transform(sequence(1, size(v)), i -> " +
            "(element_at(v, i) - element_at(q, i) * scale) * " +
            "(element_at(v, i) - element_at(q, i) * scale)), " +
            "0D, (a, b) -> a + b) / size(v))") * 1e6 + 0.5) / 1e6)
          .as("rmse"),
        expr("size(filter(q, x -> x != 0))").cast("long").as("nnz"))
      .orderBy(col("vec_id"))

  val quantizeInt8Sql: String =
    s"""WITH e AS (SELECT vec_id, $vdSql AS v FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |       FROM e),
       |qz AS (SELECT vec_id, v, scale,
       |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
       |              ELSE list_transform(v, x ->
       |                CAST(floor(x / scale + 0.5) AS INT)) END AS q
       |       FROM sc)
       |SELECT vec_id, floor(scale * 1e6 + 0.5) / 1e6 AS scale,
       |  floor(sqrt(list_sum(list_transform(generate_series(1, len(v)),
       |    i -> (v[i] - q[i] * scale) * (v[i] - q[i] * scale)))
       |    / len(v)) * 1e6 + 0.5) / 1e6 AS rmse,
       |  len(list_filter(q, x -> x <> 0)) AS nnz
       |FROM qz ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q147
  /** q147: cosine similarity of consecutive embedding pairs, written
    * deliberately in the TEXTBOOK three-kernel composition
    * `graft_dot(a,b) / (sqrt(graft_dot(a,a)) · sqrt(graft_dot(b,b)))`
    * — the form a user writes when they don't know the fused kernel
    * exists. This is the registered, DuckDB-hash-gated host for the
    * [[graft.plans.KernelRewrite]] cosine fuse: every session
    * [[graft.Sessions]] builds runs with `spark.graft.autoKernel=true`,
    * so the oracle correctness gate executes this query THROUGH the
    * rewrite (its optimized plan contains one fused
    * [[graft.plans.CosineSimExpr]] — PlansSpec pins that) and the hash must equal the oracle's replay
    * of the unfused arithmetic. A 1:1 self-join on (vec_id, vec_id+1):
    * linear rows, equi-keyed, no window — the query is about the
    * expression, not the join. */
  def cosPairs(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), expr(vdExpr).as("vd"))
    val a = e.select(col("vec_id").as("vec_a"), col("vd").as("va"))
    val b = e.select((col("vec_id") - 1).as("vec_a"), col("vd").as("vb"))
    a.join(b, "vec_a")
      .withColumn("cos", floor(expr(
        "graft_dot(va, vb) / (sqrt(graft_dot(va, va)) * " +
          "sqrt(graft_dot(vb, vb)))") * 1e6 + 0.5) / 1e6)
      .select(col("vec_a"), (col("vec_a") + 1).as("vec_b"), col("cos"))
      .orderBy(col("vec_a"))
  }

  val cosPairsSql: String =
    s"""WITH e AS (SELECT vec_id, $vdSql AS vd FROM embeddings)
       |SELECT a.vec_id AS vec_a, a.vec_id + 1 AS vec_b,
       |  floor(list_sum(list_transform(generate_series(1, $Dim),
       |      i -> a.vd[i] * b.vd[i]))
       |    / (sqrt(list_sum(list_transform(a.vd, x -> x * x)))
       |      * sqrt(list_sum(list_transform(b.vd, x -> x * x))))
       |    * 1e6 + 0.5) / 1e6 AS cos
       |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
       |ORDER BY vec_a""".stripMargin

  /** Default IVF knobs for the registered q146. */
  val IvfNlist = 16
  val IvfIters = 3
  val IvfNprobe = 4

  /** q146: IVF approximate nearest neighbors as a REGISTERED,
    * hash-verified query — the coarse-quantizer scale path beside
    * q26's exact scan and q27's hyperplane LSH. The oracle replays
    * the ENTIRE pipeline: the 3-iteration Lloyd coarse quantizer
    * (shared generator with q40's oracle), the 6-dp-pinned list
    * centroids, nprobe probe selection by exact dist², and the
    * in-list cosine top-k — so quantizer drift, probe-rank ties, and
    * ranking all gate, not just recall (SimilaritySpec keeps the
    * recall-vs-exact check). */
  def annIvf(s: SparkSession, d: String): DataFrame =
    ivfSearch(s, d, IvfNlist, IvfNprobe, TopK)

  val annIvfSql: String = {
    val dist2 = (a: String, b: String) =>
      s"""list_sum(list_transform(generate_series(1, $Dim),
         |          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))""".stripMargin
    s"""WITH ${graft.cluster.KMeans.lloydCtesSql(IvfNlist, IvfIters)},
       |cents AS MATERIALIZED (
       |  SELECT cid AS list_id, list(mn ORDER BY dim) AS cv FROM (
       |    SELECT a.cid, g.dim,
       |      floor(avg(a.vd[g.dim]) * 1e6 + 0.5) / 1e6 AS mn
       |    FROM af a CROSS JOIN
       |      (SELECT unnest(generate_series(1, $Dim)) AS dim) g
       |    GROUP BY a.cid, g.dim) t GROUP BY cid),
       |n AS MATERIALIZED (
       |  SELECT vec_id, vd, cid AS list_id,
       |    sqrt(list_sum(list_transform(vd, x -> x * x))) AS nrm
       |  FROM af),
       |q AS (SELECT vec_id AS qid, vd AS qv, nrm AS qn FROM n
       |      WHERE $QueryPred),
       |probes AS (
       |  SELECT qid, qv, qn, list_id FROM (
       |    SELECT q.qid, q.qv, q.qn, c.list_id,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${dist2("q.qv", "c.cv")} ASC, c.list_id ASC) AS pr
       |    FROM q CROSS JOIN cents c) t WHERE pr <= $IvfNprobe),
       |cand AS (
       |  SELECT p.qid, n.vec_id AS nid,
       |    floor(list_sum(list_transform(generate_series(1, $Dim),
       |        i -> p.qv[i] * n.vd[i])) / (p.qn * n.nrm)
       |      * 1e6 + 0.5) / 1e6 AS cos
       |  FROM probes p JOIN n ON n.list_id = p.list_id
       |  WHERE n.vec_id <> p.qid)
       |SELECT qid, rank, nid, cos FROM (
       |  SELECT qid, nid, cos,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid ASC) AS BIGINT) AS rank
       |  FROM cand) r
       |WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_cosine_topk" -> (cosineTopK _),
    "q27_ann_lsh" -> (annHyperplaneLsh _),
    "q45_embed_neardup" -> (embedNearDup _),
    "q60_quantize_int8" -> (quantizeInt8 _),
    "q94_semdedup" -> (semDedup _),
    "q146_ann_ivf" -> (annIvf _),
    "q147_cos_pairs" -> (cosPairs _))

  val oracle: Map[String, String] = Map(
    "q26_cosine_topk" -> cosineTopKSql,
    "q27_ann_lsh" -> annHyperplaneLshSql,
    "q45_embed_neardup" -> embedNearDupSql,
    "q60_quantize_int8" -> quantizeInt8Sql,
    "q94_semdedup" -> semDedupSql,
    "q146_ann_ivf" -> annIvfSql,
    "q147_cos_pairs" -> cosPairsSql)
}
