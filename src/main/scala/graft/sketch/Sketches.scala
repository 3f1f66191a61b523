package graft.sketch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Hashing

/** Probabilistic sketches as relational dataflows — Bloom membership
  * (Assignment6/task1.py) and Flajolet–Martin distinct counting
  * (Assignment6/task2.py:33-68), re-expressed so the whole sketch
  * build/probe/estimate is distributed (shuffle + partial aggregation,
  * no driver collect — the reference ran FM on a collect()ed window).
  *
  * Determinism: the reference drew random hash coefficients; here the
  * family is the seeded portable md5 family ([[graft.functions.Hashing]])
  * so the DuckDB oracle replays every bit/trailing-zero/median step.
  *
  * Scale: the Bloom build side reduces to ≤ m distinct positions
  * (broadcastable regardless of corpus size); FM state is 40 maxima per
  * group key — both sketches are algebraic aggregations, which is
  * exactly why they stream (see graft.streaming).
  */
object Sketches {

  // ---------------------------------------------------------------- q29
  /** Reference parity: 6 hash functions, m = 7000
    * (Assignment6/task1.py:45-47). */
  val BloomM = 7000L
  val BloomK = 6
  val BloomSeeds: Seq[(Long, Long)] = Hashing.seeds(BloomK, salt = 29L)

  private def bloomPosArr(e: String): String =
    "array(" + BloomSeeds.map { case (a, b) =>
      s"($a * ${Hashing.h31SparkSql(e)} + $b) % $BloomM"
    }.mkString(", ") + ")"

  private def bloomPosList(e: String): String =
    "[" + BloomSeeds.map { case (a, b) =>
      s"($a * ${Hashing.h31Sql(e)} + $b) % $BloomM"
    }.mkString(", ") + "]"

  /** q29: Bloom filter build + probe, fully relational. Train = part
    * types with p_size ≤ 15; probe = every distinct part type. The
    * "filter" is the distinct set of bit positions (≤ m rows —
    * broadcastable at any scale); a probe value is predicted present iff
    * all k of its positions exist. `actual` comes from a real semi-join,
    * so the output exhibits the sketch's one-sided error: false
    * positives possible, false negatives impossible (asserted in
    * SketchSpec). */
  def bloomMembership(s: SparkSession, d: String): DataFrame = {
    val train = part(s, d).filter(col("p_size") <= 15)
      .select(col("p_type")).distinct()
    val probe = part(s, d).select(col("p_type")).distinct()
    val positions = train
      .select(explode(expr(bloomPosArr("p_type"))).as("pos"))
      .distinct()
    val probed = probe
      .select(col("p_type"), explode(expr(bloomPosArr("p_type"))).as("pos"))
      .join(broadcast(positions.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy(col("p_type"))
      .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0))))
        .as("predicted"))
    val actual = train.withColumn("actual", lit(true))
    probed.join(actual, Seq("p_type"), "left")
      .withColumn("actual", coalesce(col("actual"), lit(false)))
      .select(col("p_type"), col("predicted"), col("actual"))
      .orderBy(col("p_type"))
  }

  val bloomMembershipSql: String =
    s"""WITH train AS MATERIALIZED (
       |  SELECT DISTINCT p_type FROM part WHERE p_size <= 15),
       |probe AS MATERIALIZED (SELECT DISTINCT p_type FROM part),
       |positions AS MATERIALIZED (
       |  SELECT DISTINCT unnest(${bloomPosList("p_type")}) AS pos FROM train),
       |ph AS (SELECT p_type, unnest(${bloomPosList("p_type")}) AS pos
       |       FROM probe),
       |probed AS (
       |  SELECT ph.p_type, count(po.pos) = $BloomK AS predicted
       |  FROM ph LEFT JOIN positions po ON ph.pos = po.pos
       |  GROUP BY ph.p_type)
       |SELECT pr.p_type, pr.predicted,
       |  (t.p_type IS NOT NULL) AS actual
       |FROM probed pr LEFT JOIN train t ON pr.p_type = t.p_type
       |ORDER BY pr.p_type""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Reference parity: 40 hash functions, modulus 500, 10 groups,
    * mean-per-group then median-of-means (Assignment6/task2.py:22-25,
    * 59-68); r(0) = 1 replicates the bin-string quirk at :29-30. */
  val FmHashes = 40
  val FmMod = 500L
  val FmGroups = 10
  val FmSeeds: Seq[(Long, Long)] = Hashing.seeds(FmHashes, salt = 62L)

  /** q30: per-event-type FM distinct-user estimate vs exact count.
    * Dataflow: distinct (type, user) → explode 40 hashed trailing-zero
    * ranks map-side → max per (type, hash) [partial agg] → mean per
    * group of 4 → median of the 10 group means. Every step is an
    * algebraic aggregate — the distributed form of the reference's
    * driver-side numpy loop. */
  def fmDistinct(s: SparkSession, d: String): DataFrame = {
    val rankStructs = FmSeeds.zipWithIndex.map { case ((a, b), i) =>
      val v = s"(($a * x31 + $b) % $FmMod)"
      s"named_struct('i', $i, 'r', CASE WHEN $v = 0 THEN 1 ELSE " +
        s"CAST(floor(log2($v & -$v)) AS INT) END)"
    }.mkString(", ")
    val exact = events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val ranks = events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("x31", expr(Hashing.h31SparkSql("user_id")))
      .select(col("event_type"),
        explode(expr(s"array($rankStructs)")).as("h"))
      .groupBy(col("event_type"), col("h.i").as("i"))
      .agg(max(col("h.r")).as("rmax"))
      .groupBy(col("event_type"),
        floor(col("i") / lit(FmHashes / FmGroups)).cast("int").as("grp"))
      .agg(avg(pow(lit(2.0), col("rmax"))).as("grp_mean"))
      .groupBy(col("event_type"))
      .agg((floor(expr("percentile(grp_mean, 0.5)") * 1e2 + 0.5) / 1e2)
        .as("fm_estimate"))
    exact.join(ranks, Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"), col("fm_estimate"))
      .orderBy(col("event_type"))
  }

  val fmDistinctSql: String = {
    val rankRows = FmSeeds.zipWithIndex.map { case ((a, b), i) =>
      val v = s"(($a * x31 + $b) % $FmMod)"
      s"SELECT event_type, $i AS i, CASE WHEN $v = 0 THEN 1 ELSE " +
        s"CAST(floor(log2($v & -$v)) AS INT) END AS r FROM du"
    }.mkString("\n  UNION ALL ")
    s"""WITH du AS MATERIALIZED (
       |  SELECT event_type, ${Hashing.h31Sql("user_id")} AS x31
       |  FROM (SELECT DISTINCT event_type, user_id FROM events)),
       |ranks AS ($rankRows),
       |rmaxes AS (SELECT event_type, i, max(r) AS rmax
       |           FROM ranks GROUP BY 1, 2),
       |grp_means AS (SELECT event_type,
       |    CAST(floor(i / ${FmHashes / FmGroups}.0) AS INT) AS grp,
       |    avg(power(2.0, rmax)) AS grp_mean
       |  FROM rmaxes GROUP BY 1, 2),
       |est AS (SELECT event_type,
       |          floor(median(grp_mean) * 1e2 + 0.5) / 1e2 AS fm_estimate
       |        FROM grp_means GROUP BY 1),
       |exact AS (SELECT event_type,
       |    count(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, e.exact_distinct, s.fm_estimate
       |FROM exact e JOIN est s ON e.event_type = s.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q96
  /** Count-Min rows / width. d×w is the ENTIRE sketch state (48 longs
    * here). w = 16 is sized to this corpus's ~31-term vocabulary so
    * bucket collisions — the thing the row-minimum exists to suppress —
    * actually occur at every scale factor; production sizing is
    * w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉, still corpus-size-independent. */
  val CmD = 3
  val CmW = 16L
  val CmSeeds: Seq[(Long, Long)] = Hashing.seeds(CmD, salt = 96L)
  /** Report size for the heavy-hitter table. */
  val CmTopN = 20

  private def cmBucketExpr(e: String, r: Int): String = {
    val (a, b) = CmSeeds(r)
    s"(($a * ${Hashing.h31SparkSql(e)} + $b) % ${Hashing.M31}) % $CmW"
  }
  private def cmBucketSql(e: String, r: Int): String = {
    val (a, b) = CmSeeds(r)
    s"(($a * ${Hashing.h31Sql(e)} + $b) % ${Hashing.M31}) % $CmW"
  }

  /** q96: Count-Min heavy hitters — the frequency complement of q29
    * (membership) and q30 (cardinality). Every token occurrence
    * increments one cell per hash row; a term's estimate is the MINIMUM
    * of its d cells, so estimates only ever overcount (one-sided error,
    * the dual of Bloom's false-positives — asserted per-row here by
    * emitting `overest = est − true ≥ 0`, and in SketchSpec). Output:
    * the top-[[CmTopN]] true heavy hitters with their sketch estimates.
    *
    * Scale: the exact side is one vocabulary-keyed count with map-side
    * combine; the sketch side is algebraic over d×w cells — as a raw
    * ingest aggregate its state is 48 longs no matter the corpus (the
    * same property that lets FM stream), and cells here sum the
    * PRE-AGGREGATED per-term counts, so the explode factor d applies to
    * the vocabulary, never the corpus. */
  def countMinHh(s: SparkSession, d: String): DataFrame = {
    val structs = (0 until CmD).map(r =>
      s"named_struct('r', $r, 'bkt', ${cmBucketExpr("term", r)})")
      .mkString(", ")
    val keyed = documents(s, d)
      .select(explode(expr(graft.ops.Text.toksExpr)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
      .select(col("term"), col("true_cnt"),
        explode(expr(s"array($structs)")).as("rb"))
      .select(col("term"), col("true_cnt"),
        col("rb.r").as("r"), col("rb.bkt").as("bkt"))
      .localCheckpoint() // kept: 2 readers; 20% slower at sf0.1 without it
    val cells = keyed.groupBy(col("r"), col("bkt"))
      .agg(sum(col("true_cnt")).as("cell_cnt"))
    keyed.join(broadcast(cells), Seq("r", "bkt"))
      .groupBy(col("term"), col("true_cnt"))
      .agg(min(col("cell_cnt")).as("est_cnt"))
      .withColumn("overest", col("est_cnt") - col("true_cnt"))
      .orderBy(col("true_cnt").desc, col("term").asc)
      .limit(CmTopN)
  }

  val countMinHhSql: String = {
    val rows = (0 until CmD).map(r =>
      s"""SELECT term, true_cnt, $r AS r, ${cmBucketSql("term", r)} AS bkt
         |  FROM tc""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH tc AS MATERIALIZED (
       |  SELECT term, count(*) AS true_cnt
       |  FROM (SELECT unnest(${graft.ops.Text.toksSqlExpr}) AS term
       |        FROM documents) GROUP BY 1),
       |k AS MATERIALIZED (
       |  $rows),
       |cells AS (SELECT r, bkt, CAST(sum(true_cnt) AS BIGINT) AS cell_cnt
       |          FROM k GROUP BY 1, 2)
       |SELECT k.term, k.true_cnt, min(c.cell_cnt) AS est_cnt,
       |  min(c.cell_cnt) - k.true_cnt AS overest
       |FROM k JOIN cells c USING (r, bkt)
       |GROUP BY 1, 2
       |ORDER BY true_cnt DESC, term LIMIT $CmTopN""".stripMargin
  }

  // --------------------------------------------------------------- q103
  /** Runtime-filter bitmap size (bits) and hash count. m is sized for
    * a dimension slice, not the fact table — the bitmap is m/64 longs
    * regardless of corpus size, which is the whole point. */
  val RfM = 8192
  val RfK = 4
  val RfSeeds: Seq[(Long, Long)] = Hashing.seeds(RfK, salt = 103L)
  /** Build-side predicate for the q103 demonstration join. */
  val RfBrand = "Brand#4"

  /** q103: broadcast Bloom runtime-filter join — the join-pruning
    * pattern big engines inject automatically (Spark's own
    * `InjectRuntimeFilter`, here built from first principles so the
    * mechanics are visible and oracle-checkable). Per-brand revenue
    * restricted to one brand's parts, computed as:
    *
    *   1. build: hash the dimension slice's join keys into a fixed
    *      m-bit Bloom bitmap. The build DATA may grow with the corpus,
    *      but the aggregated state is ≤ m distinct bit positions —
    *      collected and packed into m/64 longs, summary-sized at any
    *      scale (same argument as q29's position set).
    *   2. probe: a pure map-side projection tests each fact row's k
    *      positions against the bitmap LITERAL — no explode, no join,
    *      whole-stage-codegen'd — so ~24/25 of the fact table dies
    *      before the join shuffle. False positives survive;
    *      false negatives cannot happen.
    *   3. verify: the surviving sliver broadcast-joins the exact
    *      dimension slice, which removes the false positives.
    *
    * The oracle replays the PLAIN filtered join — the runtime filter
    * must change the plan, never the answer (same contract as q73's
    * salting). At 100 TB this is the difference between shuffling the
    * whole fact table into a join and shuffling a brand-sized sliver;
    * with bucketed layout the prefilter also prunes entire files via
    * min/max stats on the hash-clustered key. */
  def bloomFilterJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val dim = part(s, d).filter(col("p_brand") === RfBrand)
      .select(col("p_partkey"), col("p_type"))
    val posArr = "array(" + RfSeeds.map { case (a, b) =>
      s"($a * ${Hashing.h31SparkSql("p_partkey")} + $b) % $RfM"
    }.mkString(", ") + ")"
    // aggregated sketch state: ≤ RfM distinct positions → RfM/64 longs
    val bitmap = new Array[Boolean](RfM)
    dim.select(explode(expr(posArr)).as("pos")).distinct()
      .collect().foreach(r => bitmap(r.getLong(0).toInt) = true)
    val bm = typedLit(bitmap.toSeq)
    val probe = lineitem(s, d)
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .withColumn("hk", expr(Hashing.h31SparkSql("l_partkey")))
    val passes = RfSeeds.map { case (a, b) =>
      element_at(bm,
        ((lit(a) * col("hk") + lit(b)) % RfM + 1).cast("int"))
    }.reduce(_ && _)
    probe.filter(passes)
      .join(bcast(dim), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg((floor(sum(col("rev")).cast("double") * 1e2 + 0.5) / 1e2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_type"))
  }

  val bloomFilterJoinSql: String =
    s"""SELECT p_type,
       |  floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
       |    AS DECIMAL(18,6))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS revenue,
       |  count(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand = '$RfBrand'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q110 bin count — 128 bins keeps the bucket error ≤ range/128. */
  val AqBins = 128
  /** q110 probe quantiles (string keys keep the literal exact). */
  val AqQuantiles = Seq("0.5", "0.9", "0.99")

  // --------------------------------------------------------------- q110
  /** q110: approximate quantiles via a fixed-bin histogram — the
    * two-phase mergeable-summary shape that replaces an exact global
    * sort at corpus scale: (1) scalar min/max, broadcast; (2) a
    * [[AqBins]]-bin equi-width histogram (map-side combining, state =
    * 128 counters per partition — mergeable by addition, so the same
    * summary works as a streaming accumulator); (3) quantile read-off
    * by linear interpolation inside the target bin. Exact percentiles
    * are q48; this is the path whose cost is O(data) + O(bins) with NO
    * data-sized shuffle or sort at any scale.
    *
    * Everything after the histogram runs on a 128-row frame: the
    * cumulative window, the target-rank join, the interpolation. The
    * binning expression reuses q74's proven operand order and every
    * double step is written identically in the oracle, so the estimate
    * is bit-identical, not approximately equal. */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stats = events(s, d).agg(min(col("value")).as("mn"),
      max(col("value")).as("mx"), count(lit(1)).as("n"))
    val hist = events(s, d).select(col("value"))
      .crossJoin(broadcast(stats)) // 1-row scalar frame
      .select(least(lit(AqBins - 1),
        floor((col("value") - col("mn")) * AqBins /
          (col("mx") - col("mn"))).cast("int")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      // bounded window: AqBins rows in one partition by construction
      .withColumn("cum", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
    val probes = AqQuantiles.map(_.toDouble).toDF("p")
      .crossJoin(broadcast(stats))
      .select(col("p"), col("mn"), col("mx"),
        ceil(col("p") * col("n")).cast("long").as("target"))
    probes.join(hist, col("cum") >= col("target"))
      .groupBy(col("p"), col("mn"), col("mx"), col("target"))
      .agg(min(col("bin")).as("bin"))
      .join(hist.select(col("bin"), col("cnt"), col("cum")), Seq("bin"))
      .select(col("p"), col("target"), col("bin"),
        (floor((col("mn") + (col("bin") +
          (col("target") - (col("cum") - col("cnt"))).cast("double") /
            col("cnt").cast("double")) *
          ((col("mx") - col("mn")) / AqBins)) * 1e6 + 0.5) / 1e6)
          .as("est"))
      .orderBy(col("p"))
  }

  val approxQuantilesSql: String = {
    val probes = AqQuantiles
      .map(p => s"SELECT CAST($p AS DOUBLE) AS p")
      .mkString(" UNION ALL ")
    s"""WITH stats AS (
       |  SELECT min(value) AS mn, max(value) AS mx, count(*) AS n
       |  FROM events),
       |hist0 AS (
       |  SELECT least($AqBins - 1,
       |      CAST(floor((value - mn) * $AqBins / (mx - mn)) AS INT))
       |    AS bin, count(*) AS cnt
       |  FROM events CROSS JOIN stats GROUP BY 1),
       |hist AS (
       |  SELECT bin, cnt,
       |    CAST(sum(cnt) OVER (ORDER BY bin
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM hist0),
       |probes AS (
       |  SELECT p, mn, mx, CAST(ceil(p * n) AS BIGINT) AS target
       |  FROM ($probes) CROSS JOIN stats),
       |pick AS (
       |  SELECT p, mn, mx, target, min(bin) AS bin
       |  FROM probes JOIN hist ON cum >= target
       |  GROUP BY 1, 2, 3, 4)
       |SELECT k.p, k.target, k.bin,
       |  floor((k.mn + (k.bin +
       |    CAST(k.target - (h.cum - h.cnt) AS DOUBLE)
       |      / CAST(h.cnt AS DOUBLE)) *
       |    ((k.mx - k.mn) / $AqBins)) * 1e6 + 0.5) / 1e6 AS est
       |FROM pick k JOIN hist h ON h.bin = k.bin
       |ORDER BY k.p""".stripMargin
  }

  // --------------------------------------------------------------- q144
  /** HLL registers: 2^7 = 128 (σ ≈ 1.04/√m ≈ 9%). */
  val HllM = 128
  /** Flajolet's bias constant α_m for m = 128 — computed once in Scala
    * and embedded as the SAME shortest-roundtrip literal in both
    * engines (the q63 PrDamping precedent). */
  val HllAlpha: Double = 0.7213 / (1 + 1.079 / HllM)
  /** α_m · m² · 2^54 — the raw-estimate numerator, pre-scaled by the
    * integer register sum's 2^54 fixed point. Exact double (power-of-
    * two multiplies are exponent shifts). */
  val HllNumer: Double = HllAlpha * HllM * HllM * math.pow(2, 54)

  /** Exact MSB position (bit length) of a < 2^53 value as a CASE
    * cascade — floor(log2(w)) is the obvious alternative but a double
    * log2 rounds UP at w = 2^k − 1 for large k, and the two engines'
    * log2 are not guaranteed bit-identical; 53 integer compares are. */
  private def bitLenSql(w: String): String =
    (52 to 0 by -1).map(k =>
      s"WHEN $w >= ${1L << k} THEN ${k + 1}")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** q144: HyperLogLog distinct-user estimate per event type vs the
    * exact count — the production-standard distinct sketch alongside
    * q30's FM (Flajolet–Fusy–Gandouet–Meunier 2007). Fully
    * cross-engine replayable, like every sketch here: the portable h60
    * hash splits into a 7-bit register index and a 53-bit word whose
    * leading-zero rank ρ feeds max-per-register; the harmonic-mean
    * denominator Σ 2^(−M_j) is summed as the EXACT INTEGER
    * Σ 2^(54−M_j) (≤ 128·2^54 < 2^62 — no float summation order to
    * drift, the same move as q141's decimal rank-sum), and the
    * small-range branch (E ≤ 2.5m with empty registers) switches to
    * linear counting m·ln(m/V) — exercised at sf0.001 where per-type
    * distincts are below 320, while the raw branch runs at
    * sf0.01/sf0.1. Scale: distinct-reduce then 128-row state per
    * group — an algebraic aggregate that streams, like FM. */
  def hllDistinct(s: SparkSession, d: String): DataFrame = {
    val h = Hashing.h60SparkSql("user_id")
    val exact = events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val regs = events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", expr(h))
      .withColumn("reg", expr(s"h % $HllM"))
      .withColumn("rho", expr(s"54 - (${bitLenSql(s"(h div $HllM)")})"))
      .groupBy(col("event_type"), col("reg"))
      .agg(max(col("rho")).as("mr"))
      .groupBy(col("event_type"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(54 - mr AS INT))"))
          .as("sp"),
        count(lit(1)).as("nb"))
      .select(col("event_type"),
        (lit(HllM) - col("nb")).as("n_empty"),
        (col("sp") + (lit(HllM.toLong) - col("nb"))
          * (1L << 54)).as("sumint"))
      .select(col("event_type"), col("n_empty"),
        (lit(HllNumer) / col("sumint").cast("double")).as("raw"))
      .select(col("event_type"), col("n_empty"),
        when(col("raw") <= 2.5 * HllM && col("n_empty") > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble)
            / col("n_empty").cast("double")))
          .otherwise(col("raw")).as("est"))
    exact.join(regs, Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"), col("n_empty"),
        (floor(col("est") * 1e2 + 0.5) / 1e2).as("hll_estimate"))
      .orderBy(col("event_type"))
  }

  val hllDistinctSql: String = {
    val h = Hashing.h60Sql("user_id")
    s"""WITH du AS MATERIALIZED (
       |  SELECT event_type, ${h} AS h
       |  FROM (SELECT DISTINCT event_type, user_id FROM events)),
       |regs AS (
       |  SELECT event_type, h % $HllM AS reg,
       |    max(54 - (${bitLenSql(s"(h // $HllM)")})) AS mr
       |  FROM du GROUP BY 1, 2),
       |sums AS (
       |  SELECT event_type,
       |    CAST($HllM - count(*) AS BIGINT) AS n_empty,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(54 - mr AS INT))
       |      + ($HllM - count(*)) * (CAST(1 AS BIGINT) << 54)
       |      AS BIGINT) AS sumint
       |  FROM regs GROUP BY 1),
       |est AS (
       |  SELECT event_type, n_empty,
       |    CASE WHEN $HllNumer / CAST(sumint AS DOUBLE) <= ${2.5 * HllM}
       |           AND n_empty > 0
       |         THEN CAST($HllM AS DOUBLE)
       |           * ln(CAST($HllM AS DOUBLE) / CAST(n_empty AS DOUBLE))
       |         ELSE $HllNumer / CAST(sumint AS DOUBLE) END AS e
       |  FROM sums),
       |exact AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT x.event_type, x.exact_distinct, s.n_empty,
       |  floor(s.e * 1e2 + 0.5) / 1e2 AS hll_estimate
       |FROM exact x JOIN est s ON s.event_type = x.event_type
       |ORDER BY x.event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_bloom" -> (bloomMembership _),
    "q30_fm_distinct" -> (fmDistinct _),
    "q96_countmin" -> (countMinHh _),
    "q103_bloom_join" -> (bloomFilterJoin _),
    "q110_approx_quantiles" -> (approxQuantiles _),
    "q144_hll_distinct" -> (hllDistinct _))

  val oracle: Map[String, String] = Map(
    "q29_bloom" -> bloomMembershipSql,
    "q30_fm_distinct" -> fmDistinctSql,
    "q96_countmin" -> countMinHhSql,
    "q103_bloom_join" -> bloomFilterJoinSql,
    "q110_approx_quantiles" -> approxQuantilesSql,
    "q144_hll_distinct" -> hllDistinctSql)
}
