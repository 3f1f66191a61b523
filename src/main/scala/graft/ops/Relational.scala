package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Relational operator surface (SURVEY.md §2.1–§2.7).
  *
  * Each query re-expresses a reference dataflow shape
  * (Zelong-Chen/Data-Mining-Map-Reduce) on the driver testdata, declared
  * through the DataFrame API so Catalyst handles projection pruning,
  * predicate pushdown, join-strategy selection, and partial aggregation —
  * the optimizations the reference hand-rolled (SURVEY.md §4).
  *
  * Scale stance (100 TB): every query below is a scan → (broadcastable
  * dim join) → shuffle-on-group-key → partial+final agg shape. No
  * collect() in any data path; top-k goes through
  * TakeOrderedAndProjectExec (no global sort materialization).
  *
  * Determinism: every query carries a total ORDER BY (value desc, key asc
  * unless the reference specifies otherwise) and every float aggregate is
  * rounded, so the DuckDB oracle hash-compares bit-identically.
  */
object Relational {

  /** Flagship: TPC-H Q1-shaped pricing summary — the reference's
    * grouped-aggregate workhorse (A1/A2/A5: reviews-per-year,
    * avg-stars-per-category shapes, Assignment1/task1.py:25,
    * Assignment1/task2.py:37-43). Partial aggregation (map-side combine)
    * is what the reference's reduceByKey hand-rolled; Catalyst emits it
    * automatically as HashAggregate(partial) → shuffle → HashAggregate(final).
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_quantity") > 0)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        // decimal sums (order-independent across engines) + scaled
        // floor-half-up (mode-independent at exact boundaries) — the
        // cross-engine parity idiom; quantities are whole numbers so
        // their double sum is already exact
        (floor(sum(col("l_extendedprice").cast("decimal(18,6)"))
          .cast("double") * 1e2 + 0.5) / 1e2).as("sum_base_price"),
        (floor(sum(col("l_quantity")) / count(lit(1)) * 1e4 + 0.5) / 1e4)
          .as("avg_qty"),
        (floor(sum(col("l_discount").cast("decimal(18,6)")).cast("double")
          / count(lit(1)) * 1e4 + 0.5) / 1e4).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** O1: composite-key top-k — top users by event count, count desc with
    * key-desc tie-break (Assignment1/task1.py:32 sorts (count, user)
    * descending). Physical plan: TakeOrderedAndProject, not a full sort.
    */
  def topUsers(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id").desc)
      .limit(10)

  /** J1+A5+O2: dim join + grouped average + value-desc/key-asc sort —
    * the avg-stars-per-category query (Assignment1/task2.py:34-43).
    * `part` is a dim table → Catalyst broadcasts it (BroadcastHashJoin);
    * the reference's two-pass stable sort collapses to one multi-key
    * orderBy (SURVEY.md §4 "two-pass stable sort").
    */
  def categoryAvg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg((floor(sum(col("l_extendedprice").cast("decimal(18,6)"))
          .cast("double") / count(lit(1)) * 1e4 + 0.5) / 1e4)
          .as("avg_price"),
        count(lit(1)).as("cnt"))
      .orderBy(col("avg_price").desc, col("p_type").asc)

  /** P4: threshold filter on aggregate (HAVING) — "businesses with more
    * than n reviews" (Assignment1/task3.py:30,73). */
  def ordersHaving(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 12)
      .orderBy(col("cnt").desc, col("o_custkey").asc)

  /** A1+A3: global count + exact distinct count
    * (Assignment1/task1.py:22,29 — total reviews, distinct users). */
  def distinctUsers(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .agg(count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("distinct_users"))

  /** P2+U7: time-slice filter + grouped count — "reviews in year y"
    * (Assignment1/task1.py:25). Idiomatic year()/dayofmonth() over a
    * typed timestamp instead of the reference's string slicing. */
  def timeSliceCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(year(col("ts")) === 2024 && dayofmonth(col("ts")) <= 10)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type").asc)

  val StopWords: Seq[String] =
    Seq("a", "the", "and", "of", "to", "in", "is", "it")

  /** U4+U5+P8+A2+O1: word frequency — lowercase, strip punctuation,
    * tokenize on single space, drop stopwords, top-20
    * (Assignment1/task1.py:40-53). The whole pipeline is codegen'd
    * Catalyst expressions (translate/split/explode) — no UDF.
    * Tie-break is word DESC, matching the reference's sortBy((count,
    * word), descending) at Assignment1/task1.py:32 (ADVICE r01). */
  def topWords(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(translate(lower(col("text")), "([,.!?:;])", ""),
        " ", -1)).as("word"))
      .filter(col("word") =!= "" && !col("word").isin(StopWords: _*))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").desc)
      .limit(20)

  /** Left-semi join (EXISTS): customers having at least one big order.
    * Semi-join is the set-membership filter the reference did against
    * collected driver sets (P7, Assignment5/bfr.py:259) — distributed
    * here, broadcastable when the filter side is small. */
  def semiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 200000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Left-anti join (NOT EXISTS): the stopword-exclusion shape (P8,
    * Assignment1/task1.py:52) lifted to relational form — customers with
    * no large order. */
  def antiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** A14/O6: top-3 distinct frequencies with ties — the reference's
    * streaming top-3 hashtags semantics (Assignment6/task3.py:86-97):
    * all keys at each of the 3 highest counts are emitted, lexicographic
    * within a count. dense_rank over a count-ordered window replaces the
    * driver-side dict scan. */
  def rankTies(s: SparkSession, d: String): DataFrame = {
    val counts = lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
    // global (no-partitionBy) window — BOUNDED: its input is the
    // post-aggregate brand frame, one row per distinct p_brand, a
    // catalog DIMENSION (TPC-H: 25 values) that does not grow with
    // corpus rows. The single-partition sort is |brands| rows at any
    // scale.
    val w = Window.orderBy(col("cnt").desc)
    counts
      .withColumn("rnk", dense_rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("rnk").asc, col("p_brand").asc)
  }

  /** TPC-H Q3-shaped 3-way join + agg + top-k: scan → broadcast(customer)
    * ⋈ orders ⋈ lineitem → revenue per order → top-10. The multi-join
    * lifecycle trace of SURVEY.md §3.1 in one query. */
  def topRevenueOrders(s: SparkSession, d: String): DataFrame =
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      // decimal sum (order-independent) + scaled floor-half-up
      // (rounding-mode-independent) — the cross-engine parity idiom;
      // the per-row product has ≤4 true decimal digits so the
      // double→decimal(18,6) cast is unambiguous
      .agg((floor(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double") * 1e2 + 0.5) / 1e2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)

  /** J2 (co-occurrence self-join) — the graph-edge build that the
    * reference did as an O(V²) driver loop (Assignment4/task1.py:32-47).
    * Spark-native: self-equi-join on the shared key, `<` dedupes the
    * pair, shuffle handles scale; at 100 TB this is a standard
    * skew-aware shuffle join, never a driver loop. */
  def cooccurPairs(s: SparkSession, d: String): DataFrame = {
    // Dictionary-encode the brand BEFORE the f² self-join (guide §2.3
    // "narrower types"): the pair stream is the corpus-scale object
    // here (984k rows at sf0.1, quadratic in per-order brand count),
    // and keying it with two ~10 B strings made the pair aggregate
    // hash/compare strings per pair (6.4 s task CPU of the probe's
    // 8.3 s stage, diag/r17). Codes are assigned in brand order
    // (row_number over the DISTINCT brand set — a bounded global
    // window: the brand dimension is 25 values at any corpus scale,
    // the q10 rankTies argument), so `bc_a < bc_b` and the (bc_a,
    // bc_b) grouping are order-isomorphic to the string forms and
    // the decoded result is bit-identical.
    // kept: 3 readers (encode join, both decode joins); 6% slower at
    // sf0.1 without it, as each reader reruns the distinct and window
    val dict = part(s, d).select(col("p_brand").as("brand")).distinct()
      .withColumn("bc", row_number().over(Window.orderBy(col("brand"))))
      .localCheckpoint()
    val ob = lineitem(s, d)
      .join(broadcast(part(s, d).select(col("p_partkey"), col("p_brand"))
        .join(broadcast(dict), col("p_brand") === col("brand"))
        .select(col("p_partkey"), col("bc"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("bc"))
      .distinct()
    val a = ob.select(col("ok"), col("bc").as("bc_a"))
    val b = ob.select(col("ok"), col("bc").as("bc_b"))
    a.join(b, Seq("ok"))
      .filter(col("bc_a") < col("bc_b"))
      .groupBy(col("bc_a"), col("bc_b"))
      .agg(count(lit(1)).as("cnt"))
      // decode on the aggregated (brand² at most) frame, never the pairs
      .join(broadcast(dict.select(col("bc").as("bc_a"),
        col("brand").as("brand_a"))), Seq("bc_a"))
      .join(broadcast(dict.select(col("bc").as("bc_b"),
        col("brand").as("brand_b"))), Seq("bc_b"))
      .select(col("brand_a"), col("brand_b"), col("cnt"))
      .orderBy(col("cnt").desc, col("brand_a").asc, col("brand_b").asc)
      .limit(20)
  }

  /** U1: union of two branches + distinct — the RS ∪ leftovers shape
    * (Assignment5/bfr.py:371,446). */
  def unionBranches(s: SparkSession, d: String): DataFrame = {
    val big = orders(s, d).filter(col("o_totalprice") > 250000.0)
      .select(col("o_custkey").as("custkey"))
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    big.unionByName(urgent).distinct()
      .groupBy()
      .agg(count(lit(1)).as("n_custkeys"))
  }

  /** Window functions (§2.5 extension): first-2-orders-per-customer via
    * row_number over (orderdate, orderkey). The reference has no SQL
    * windows; this is the rank-like capability done Spark-native. */
  def firstOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      // o_totalprice is 2-dp source data — pass through unrounded
      // (round(x, 2) was a representation no-op with a .xx5 hazard)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        col("o_totalprice").as("price"))
      .orderBy(col("o_custkey").asc, col("rn").asc)
  }

  /** A12/U15 + multi-dim stats: per-nation customer account stats
    * (min/max/avg/stddev) — grouped algebraic aggregates, one shuffle. */
  def nationStats(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        // min/max pass through: 2-dp source doubles are identical in
        // both engines; avg goes decimal-sum / count + floor-half-up
        min("c_acctbal").as("min_bal"),
        max("c_acctbal").as("max_bal"),
        (floor(sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
          / count(lit(1)) * 1e3 + 0.5) / 1e3).as("avg_bal"),
        count(lit(1)).as("cnt"))
      .orderBy(col("n_name").asc)

  /** A1t3 partition introspection (Assignment1/task3.py:34,77):
    * records-per-partition via spark_partition_id() — replaces
    * glom().map(len). Rows-only oracle (partitioning is engine-side),
    * but SELF-GATING like q41: the query emits rows ONLY when the
    * histogram's own sum equals an independently-scanned count(*), so
    * the driver's rows>0 check certifies the introspection is
    * consistent (every row counted in exactly one partition) rather
    * than merely non-empty. */
  def partitionHistogram(s: SparkSession, d: String): DataFrame = {
    val hist = lineitem(s, d)
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // kept: 2 readers; the gate sums the rows shown
    val histTotal = hist.agg(sum(col("cnt")).as("hist_total"),
      count(lit(1)).as("n_partitions"))
    val direct = lineitem(s, d).agg(count(lit(1)).as("direct_total"))
    hist.crossJoin(broadcast(histTotal)).crossJoin(broadcast(direct))
      .filter(col("hist_total") === col("direct_total")) // the gate
      .select(col("partition_id"), col("cnt"), col("n_partitions"),
        col("hist_total"), col("direct_total"))
      .orderBy(col("partition_id").asc)
  }

  /** U13: JSON parse on a real column — events.props is a JSON object;
    * parse with a declared schema (from_json, codegen'd — the
    * Spark-native form of the reference's per-line json.loads) and
    * aggregate the extracted field. */
  def jsonProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        expr("from_json(props, 'k INT').k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonPropsSql: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
      |    AS sum_k,
      |  min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
      |  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** As-of / range-join semantics, composed from built-ins (the
    * preference order of the build brief: compose before custom
    * operators): for every `error` event, the same user's latest
    * purchase at-or-before it, plus how many came before. The
    * user-equality + time-inequality join Catalyst executes as an
    * equi-join on user with a residual range predicate; the aggregate
    * form (max/count) keeps results deterministic under timestamp ties,
    * where a row-picking ASOF JOIN would be engine-arbitrary. */
  def asofPurchase(s: SparkSession, d: String): DataFrame = {
    val err = events(s, d).filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val pur = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"))
    err.join(pur,
        err("user_id") === pur("user_id") && col("pts") <= col("ts"),
        "left")
      .groupBy(col("event_id"))
      .agg(max(col("pts")).as("last_purchase_ts"),
        count(col("pts")).as("n_prior_purchases"))
      .orderBy(col("event_id"))
  }

  val asofPurchaseSql: String =
    """SELECT e.event_id, max(p.ts) AS last_purchase_ts,
      |  count(p.ts) AS n_prior_purchases
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'error') e
      |LEFT JOIN (SELECT user_id, ts FROM events
      |           WHERE event_type = 'purchase') p
      |  ON p.user_id = e.user_id AND p.ts <= e.ts
      |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  /** Grouping sets: order totals by (nation, segment) with ROLLUP
    * subtotals and a grand total — beyond the reference's surface
    * (SURVEY §2.4 notes it has none), standard engine capability.
    * Decimal-cast sums for cross-engine determinism; null ordering
    * pinned (Spark defaults nulls-first, DuckDB nulls-last). */
  def rollupRevenue(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg((floor(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double") * 1e2 + 0.5) / 1e2).as("total"),
        count(lit(1)).as("cnt"))
      .orderBy(col("n_name").asc_nulls_first,
        col("c_mktsegment").asc_nulls_first)

  val rollupRevenueSql: String =
    """SELECT n_name, c_mktsegment,
      |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    * 1e2 + 0.5) / 1e2 AS total,
      |  count(*) AS cnt
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, c_mktsegment)
      |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin

  /** U15/A13: exact interpolated percentiles (median, p25/p75) of
    * customer balances per market segment — Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition. */
  def segmentPercentiles(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        (floor(expr("percentile(c_acctbal, 0.25)") * 1e4 + 0.5) / 1e4)
          .as("p25"),
        (floor(expr("percentile(c_acctbal, 0.5)") * 1e4 + 0.5) / 1e4)
          .as("median"),
        (floor(expr("percentile(c_acctbal, 0.75)") * 1e4 + 0.5) / 1e4)
          .as("p75"),
        count(lit(1)).as("cnt"))
      .orderBy(col("c_mktsegment"))

  val segmentPercentilesSql: String =
    """SELECT c_mktsegment,
      |  floor(quantile_cont(c_acctbal, 0.25) * 1e4 + 0.5) / 1e4 AS p25,
      |  floor(quantile_cont(c_acctbal, 0.5) * 1e4 + 0.5) / 1e4 AS median,
      |  floor(quantile_cont(c_acctbal, 0.75) * 1e4 + 0.5) / 1e4 AS p75,
      |  count(*) AS cnt
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Skew-tolerant two-stage aggregation: event_type has only 5 values
    * (massively skewed as a shuffle key at scale), so aggregate first on
    * (key, salt) — spreading each hot key over 16 reducers — then
    * combine the partials. Results are identical to the direct groupBy
    * (the oracle is the plain form); the plan differs: no single reducer
    * ever sees a whole hot key. AQE's skew handling covers joins; this
    * is the aggregation-side idiom. Decimal sums keep the re-aggregation
    * order-insensitive. */
  def saltedTypeStats(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pc"),
        sum(col("value").cast("decimal(18,6)")).as("ps"))
      .groupBy(col("event_type"))
      .agg(sum(col("pc")).as("cnt"),
        (floor(sum(col("ps")).cast("double") * 1e4 + 0.5) / 1e4)
          .as("sum_value"))
      .orderBy(col("event_type"))

  val saltedTypeStatsSql: String =
    """SELECT event_type, count(*) AS cnt,
      |  floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |    * 1e4 + 0.5) / 1e4 AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** The event-type domain (pinned so the pivot schema is static — at
    * scale you never want pivot("col") inferring the domain with an
    * extra pass over 100 TB). */
  val EventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** q52: pivot — daily event counts, one column per event type. The
    * wide-format reporting shape; with the domain pinned it compiles
    * to a single groupBy with conditional aggregates (one scan, one
    * shuffle on day). */
  def pivotDaily(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy(col("day"))

  val pivotDailySql: String = {
    val cols = EventTypes.map(t =>
      s"""CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS "$t"""".stripMargin).mkString(",\n  ")
    s"""SELECT CAST(ts AS DATE) AS day,
       |  $cols
       |FROM events WHERE ts < TIMESTAMP '2024-01-08'
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q53: EXCEPT / INTERSECT set operators over customer key sets
    * (big-spender custkeys vs urgent-order custkeys) — the remaining
    * SQL set-op surface beyond q13's UNION. Both set ops are one
    * shuffle on the key at scale. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val big = orders(s, d).filter(col("o_totalprice") > 250000.0)
      .select(col("o_custkey"))
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val ex = big.except(urgent)
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
    val in = big.intersect(urgent)
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
    ex.unionByName(in).select(col("op"), col("n")).orderBy(col("op"))
  }

  val setOpsSql: String =
    """SELECT 'except' AS op, count(*) AS n FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 250000.0
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT') t
      |UNION ALL
      |SELECT 'intersect' AS op, count(*) AS n FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 250000.0
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT') t
      |ORDER BY op""".stripMargin

  /** q54: running totals and gaps — cumulative revenue per customer in
    * order-date order plus days since the previous order (lag). The
    * window partitions by customer, so at scale it is one shuffle on
    * custkey with no global ordering anywhere. */
  def runningTotals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders(s, d)
      .filter(col("o_custkey") < 200)
      .withColumn("run_total",
        floor(sum(col("o_totalprice").cast("decimal(18,2)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") * 1e2 + 0.5) / 1e2)
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("run_total"), col("gap_days"))
      .orderBy(col("o_custkey"), col("order_date"), col("o_orderkey"))
  }

  val runningTotalsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) * 1e2 + 0.5) / 1e2
      |    AS run_total,
      |  CAST(date_diff('day', lag(o_orderdate, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |    o_orderdate) AS BIGINT) AS gap_days
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin

  /** q56: statistical aggregates — Pearson correlation, sample
    * covariance, sample stddev/variance per group. All algebraic
    * (co-moment merge), so they partial-aggregate map-side and shuffle
    * only k summary rows; rounded to 4 dp because co-moment merge
    * order differs across engines at ~1e-12 relative. */
  def statsAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        (floor(corr(col("l_quantity"), col("l_extendedprice"))
          * 1e4 + 0.5) / 1e4).as("corr_qty_price"),
        (floor(covar_samp(col("l_quantity"), col("l_extendedprice"))
          * 1e4 + 0.5) / 1e4).as("covar_qty_price"),
        (floor(stddev_samp(col("l_discount")) * 1e4 + 0.5) / 1e4)
          .as("std_disc"),
        (floor(var_samp(col("l_tax")) * 1e4 + 0.5) / 1e4).as("var_tax"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  val statsAggSql: String =
    """SELECT l_returnflag,
      |  floor(corr(l_quantity, l_extendedprice) * 1e4 + 0.5) / 1e4
      |    AS corr_qty_price,
      |  floor(covar_samp(l_quantity, l_extendedprice) * 1e4 + 0.5) / 1e4
      |    AS covar_qty_price,
      |  floor(stddev_samp(l_discount) * 1e4 + 0.5) / 1e4 AS std_disc,
      |  floor(var_samp(l_tax) * 1e4 + 0.5) / 1e4 AS var_tax,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q51: deterministic hash-based stratified sampling — the
    * reproducible replacement for the reference's random.sample seeding
    * (U14, Assignment5/bfr.py): a row is in the p% sample iff the
    * portable 60-bit md5 hash of its key lands in the low p% of hash
    * space. Properties that matter at 100 TB: no RNG state, no driver
    * coordination, stable under retries/replays, and any engine
    * (DuckDB here) selects the identical sample. Emitted as per-stratum
    * sample stats vs full-population counts, so the oracle verifies
    * sample membership exactly. */
  val SamplePct = 10

  def hashSample(s: SparkSession, d: String): DataFrame = {
    val h = graft.functions.Hashing.h60SparkSql("event_id")
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(expr(s"$h % 100 < $SamplePct"), 1L).otherwise(0L))
          .as("n_sampled"),
        (floor(sum(when(expr(s"$h % 100 < $SamplePct"),
            col("value").cast("decimal(18,6)"))
          .otherwise(lit(null))).cast("double") * 1e4 + 0.5) / 1e4)
          .as("sampled_value_sum"))
      .orderBy(col("event_type"))
  }

  val hashSampleSql: String = {
    val h = graft.functions.Hashing.h60Sql("event_id")
    s"""SELECT event_type, count(*) AS n_total,
       |  CAST(sum(CASE WHEN $h % 100 < $SamplePct THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_sampled,
       |  floor(CAST(sum(CASE WHEN $h % 100 < $SamplePct
       |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
       |    * 1e4 + 0.5) / 1e4 AS sampled_value_sum
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Salt count for the q73 skew-proof join. */
  val JoinSalts = 8

  /** Skew-proof equi-join via key salting — the join-side counterpart
    * of q49's two-stage aggregation. The probe side gets a
    * deterministic salt in [0, n) (xxhash64 of row-unique columns, so
    * replays are identical — guide §2.5's "derive the synthetic key
    * deterministically, e.g. pmod(xxhash64(id), ...)"); the build
    * side is exploded once per salt and the join runs on (key, salt)
    * — one hot key spreads over n reducers instead of stalling one.
    * The salt never leaves the plan, so it needs determinism, NOT the
    * cross-engine md5 h60 the dedup family's values require: the old
    * h60-over-concat_ws salt built a string and ran md5 per probe row
    * — ~60% of q73's one heavy stage for a number the oracle never
    * sees (diag/r17/ab_q73.out). Results are bit-identical to the
    * plain join, which is exactly what the q73 oracle replays. Use
    * when the build side is too large to broadcast AND the probe
    * side's key histogram is skewed; AQE's skew split covers the
    * merely-uneven cases, salting covers the pathological ones. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      n: Int, saltSrc: Column*): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(xxhash64(saltSrc: _*), lit(n.toLong)).cast("int"))
    val exploded = small.withColumn("_salt",
      explode(typedLit((0 until n).toArray)))
    salted.join(exploded, Seq(key, "_salt")).drop("_salt")
  }

  /** q73: per-brand revenue computed THROUGH the salted join — the
    * oracle is the plain lineitem⋈part join, proving salting changes
    * the plan, never the answer. Decimal-cast terms make the sum
    * exact, hence order-independent across engines and salt
    * layouts — which is also why ANY deterministic salt assignment
    * yields the identical result. */
  def saltedJoinRevenue(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d).select(col("l_partkey").as("pk"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)").as("rev"),
      col("l_orderkey"), col("l_linenumber"))
    val small = part(s, d)
      .select(col("p_partkey").as("pk"), col("p_brand"))
    saltedJoin(big, small, "pk", JoinSalts,
      col("l_orderkey"), col("l_linenumber"))
      .groupBy(col("p_brand"))
      // floor-half-up, not round(x, 2): Spark rounds HALF_UP on the
      // exact binary value, DuckDB rounds the scaled double — 4-decimal
      // revenue sums land on .xx50 routinely (ADVICE r6).
      .agg((floor(sum(col("rev")).cast("double") * 1e2 + 0.5) / 1e2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val saltedJoinRevenueSql: String =
    s"""SELECT p_brand,
       |  floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
       |    AS DECIMAL(18,6))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS revenue,
       |  count(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bin count for the q74 histogram. */
  val HistBins = 20

  /** q74: equi-width histogram of events.value — the distributed
    * two-pass shape (scalar min/max aggregate broadcast into a
    * map-side binning pass, then a bin-keyed count). The binning
    * expression is written identically on both engines so the IEEE
    * result — and therefore the bin of every edge-riding value — is
    * bit-identical. Bins are histogram-sized regardless of scale. */
  def valueHistogram(s: SparkSession, d: String): DataFrame = {
    val stats = events(s, d)
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    events(s, d).select(col("value"))
      .crossJoin(broadcast(stats)) // 1-row scalar frame
      .select(least(lit(HistBins - 1),
        floor((col("value") - col("mn")) * HistBins /
          (col("mx") - col("mn"))).cast("int")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  val valueHistogramSql: String =
    s"""WITH stats AS (SELECT min(value) AS mn, max(value) AS mx
       |               FROM events)
       |SELECT least($HistBins - 1,
       |    CAST(floor((value - mn) * $HistBins / (mx - mn)) AS INT))
       |  AS bucket, count(*) AS n
       |FROM events CROSS JOIN stats
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q75: column profiler over lineitem's numeric measures — row
    * count, null count, exact distinct count, min/max/mean per
    * column, one output row per column (the dataset-card profiling
    * pass). One aggregate per column over a shared scan; at scale the
    * exact ndv is the only heavy term (swap for approx_count_distinct
    * when a 2% estimate is acceptable — the sketch path is q30). */
  def columnProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = lineitem(s, d).select(cols.map(col): _*)
    cols.map { c =>
      li.agg(
        lit(c).as("column"),
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("ndv"),
        min(col(c)).as("min_v"),
        max(col(c)).as("max_v"),
        (floor(sum(col(c).cast("decimal(24,6)")).cast("double") /
          count(lit(1)) * 1e4 + 0.5) / 1e4).as("mean_v"))
    }.reduce(_ unionByName _).orderBy(col("column"))
  }

  val columnProfileSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  count(DISTINCT $c) AS ndv,
         |  min($c) AS min_v, max($c) AS max_v,
         |  floor(CAST(sum(CAST($c AS DECIMAL(24,6))) AS DOUBLE)
         |    / count(*) * 1e4 + 0.5) / 1e4 AS mean_v
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** q76: left-outer join with null-aware aggregation — per market
    * segment: customer count, customers with NO orders (the rows only
    * an outer join can see), and total orders. Completes the join
    * matrix (inner/semi/anti/as-of/outer); `count(col)` skipping
    * nulls is the semantic under test. Two hash aggregates over the
    * join — the first keyed by customer, so the null-detection never
    * materializes more than one row per customer. */
  def outerOrderStats(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_ord"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum((col("n_ord") === 0).cast("long")).as("n_inactive"),
        sum(col("n_ord")).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  val outerOrderStatsSql: String =
    s"""WITH per AS (
       |  SELECT c.c_custkey, c.c_mktsegment,
       |    count(o.o_orderkey) AS n_ord
       |  FROM customer c LEFT JOIN orders o
       |    ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2)
       |SELECT c_mktsegment, count(*) AS n_customers,
       |  CAST(sum(CASE WHEN n_ord = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_inactive,
       |  CAST(sum(n_ord) AS BIGINT) AS n_orders
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rows kept per stratum in the q77 fixed-n sample. */
  val StratumN = 5

  /** q77: fixed-n-per-stratum sampling — exactly [[StratumN]] events
    * per event_type, chosen by smallest h60(event_id) (deterministic,
    * replayable, uniform over the stratum). The pick runs through the
    * bounded k-smallest Aggregator — O(n) state per stratum with
    * map-side combine — NOT a rank window, which would sort a whole
    * stratum (corpus-sized at 5 event types) in one task; the picked
    * hash keys broadcast back for the row lookup. A 60-bit hash tie
    * between two event_ids could over-select; at 2⁻⁶⁰ per pair the
    * oracle compare would surface it long before it matters. */
  def stratifiedFixedN(s: SparkSession, d: String): DataFrame = {
    val h = graft.functions.Hashing.h60SparkSql("event_id")
    val minK = udaf(new graft.functions.BoundedMinK(StratumN))
    val keyed = events(s, d)
      .select(col("event_type"), col("event_id"), expr(h).as("hk"))
    val picks = keyed.groupBy(col("event_type"))
      .agg(minK(col("hk")).as("ks"))
    keyed.join(broadcast(picks), "event_type")
      .filter(array_contains(col("ks"), col("hk")))
      .select(col("event_type"), col("event_id"))
      .orderBy(col("event_type"), col("event_id"))
  }

  val stratifiedFixedNSql: String = {
    val h = graft.functions.Hashing.h60Sql("event_id")
    s"""SELECT event_type, event_id FROM (
       |  SELECT event_type, event_id,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY $h, event_id) AS rn
       |  FROM events)
       |WHERE rn <= $StratumN ORDER BY event_type, event_id""".stripMargin
  }

  /** q78: view→purchase conversion funnel — per user: first view, the
    * first purchase strictly after it, conversion flag and delay;
    * rolled up to one summary row. Pure aggregates and one user-keyed
    * join (no per-user window): each stage partial-aggregates, so no
    * task ever holds a power-user's full event history. */
  def conversionFunnel(s: SparkSession, d: String): DataFrame = {
    // exact integer epoch-micros on BOTH engines (unix_micros here,
    // epoch_us in the oracle) — a seconds cast would truncate
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsl"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tsl")).as("v_ts"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("tsl") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("tsl")).as("p_ts"))
    firstView.join(conv, Seq("user_id"), "left_outer")
      .agg(count(lit(1)).as("n_viewers"),
        count(col("p_ts")).as("n_converted"),
        (floor(avg(col("p_ts") - col("v_ts")) * 1e4 + 0.5) / 1e4)
          .as("avg_delay"))
  }

  val conversionFunnelSql: String =
    s"""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_ts
       |           FROM events WHERE event_type = 'view' GROUP BY 1),
       |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_ts
       |      FROM events e JOIN v ON v.user_id = e.user_id
       |      WHERE e.event_type = 'purchase'
       |        AND epoch_us(e.ts) > v.v_ts
       |      GROUP BY 1)
       |SELECT count(*) AS n_viewers, count(p.p_ts) AS n_converted,
       |  floor(avg(p.p_ts - v.v_ts) * 1e4 + 0.5) / 1e4 AS avg_delay
       |FROM v LEFT JOIN p ON p.user_id = v.user_id""".stripMargin

  /** q79: cohort retention — users grouped by first-signup day, then
    * the count still active at each day offset (the retention matrix
    * every product-analytics stack computes). Three aggregates and one
    * user-keyed broadcast-ish join: cohorts = min signup per user;
    * activity = distinct (user, day); matrix keyed by (cohort_day,
    * offset). Every shuffle key is user- or day-bounded — no per-user
    * event-history window. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val activity = ev.select(col("user_id"), col("day")).distinct()
    activity.join(cohorts, "user_id")
      .filter(col("day") >= col("cohort_day"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"), col("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val cohortRetentionSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day
       |            FROM events),
       |c AS (SELECT user_id, min(day) AS cohort_day FROM ev
       |      WHERE event_type = 'signup' GROUP BY 1),
       |a AS (SELECT DISTINCT user_id, day FROM ev)
       |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       |  CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
       |  count(DISTINCT a.user_id) AS n_active
       |FROM a JOIN c ON c.user_id = a.user_id
       |WHERE a.day >= c.cohort_day
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q100
  /** Rolling window length (days of history) and |z| flag threshold. */
  val AnomalyWin = 7
  val AnomalyZ = 2.0

  /** q100: metric anomaly detection — per (event_type, day) counts
    * scored against the TRAILING [[AnomalyWin]]-day window (frame ends
    * at 1 PRECEDING, so a spike never suppresses itself); z-score from
    * mean/variance, |z| ≥ [[AnomalyZ]] flags. The data-quality monitor
    * a pipeline runs over its own ingest volumes.
    *
    * Cross-engine parity: mean/variance are derived from INTEGER
    * window sums (Σx, Σx², frame-ordered, exact in both engines — a
    * double window sum would drift under sliding-frame add/subtract
    * evaluation), then combined with an identical double expression;
    * stddev_samp() itself is never called (engines differ in summation
    * algorithm). At 100 TB cell counts Σx² would need the decimal
    * widening DuckDB applies automatically; day-grain cells at 1e12
    * rows/day stay under 2^63 in Σx² only to ~3e9 per cell — swap the
    * cnt² term to decimal(38,0) beyond that.
    *
    * Scale: one day×type-keyed aggregate (map-side combined), then a
    * window over ≤ days-per-type rows per partition — bounded groups,
    * no data-sized window. */
  def dailyAnomalies(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-AnomalyWin, -1)
    daily
      .withColumn("n7", count(col("cnt")).over(w))
      .withColumn("s7", sum(col("cnt")).over(w))
      .withColumn("q7", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n7") === AnomalyWin)
      .withColumn("mean7", col("s7").cast("double") / AnomalyWin)
      .withColumn("var7",
        (col("q7").cast("double")
          - col("s7").cast("double") * col("s7") / AnomalyWin)
          / (AnomalyWin - 1))
      .withColumn("z",
        when(col("var7") <= 0, lit(0.0))
          .otherwise((col("cnt").cast("double") - col("mean7"))
            / sqrt(col("var7"))))
      .select(col("event_type"), col("day"), col("cnt"),
        (floor(col("mean7") * 1e4 + 0.5) / 1e4).as("mean7"),
        (floor(col("z") * 1e4 + 0.5) / 1e4).as("z"),
        (abs(col("z")) >= AnomalyZ).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  val dailyAnomaliesSql: String = {
    val (n, z) = (AnomalyWin, AnomalyZ)
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT event_type, day, cnt,
       |    count(cnt) OVER w AS n7,
       |    CAST(sum(cnt) OVER w AS BIGINT) AS s7,
       |    CAST(sum(cnt * cnt) OVER w AS BIGINT) AS q7
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN $n PRECEDING AND 1 PRECEDING)),
       |zc AS (
       |  SELECT event_type, day, cnt,
       |    CAST(s7 AS DOUBLE) / $n AS mean7,
       |    (CAST(q7 AS DOUBLE) - CAST(s7 AS DOUBLE) * s7 / $n)
       |      / ${n - 1} AS var7
       |  FROM r WHERE n7 = $n),
       |zs AS (
       |  SELECT event_type, day, cnt, mean7,
       |    CASE WHEN var7 <= 0 THEN 0.0
       |         ELSE (CAST(cnt AS DOUBLE) - mean7) / sqrt(var7) END AS z
       |  FROM zc)
       |SELECT event_type, day, cnt,
       |  floor(mean7 * 1e4 + 0.5) / 1e4 AS mean7,
       |  floor(z * 1e4 + 0.5) / 1e4 AS z,
       |  (abs(z) >= $z) AS is_anomaly
       |FROM zs ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------- q101
  /** q101: SCD type-2 history build (gaps-and-islands) — per user,
    * consecutive runs of the same `event_type` collapsed into
    * [from_us, to_us] validity intervals with a run ordinal and run
    * length. This is the dimension-history shape every warehouse MERGE
    * produces: detect attribute change vs the previous row, number the
    * runs with a running change count, aggregate each run to one
    * interval row.
    *
    * Determinism: the row order inside a user is the total key
    * (epoch-micros, event_id) — event_id is unique, so lag() and the
    * running sum are engine-independent.
    *
    * Scale: both windows partition by user_id — state is one lag value
    * / one running counter, and a partition holds one user's history
    * (the same boundedness class as q14's per-custkey window). The
    * final aggregate is keyed by (user, seg) and map-side combines. A
    * 100 TB ingest would pre-bucket events by (user_id, month) and
    * stitch the one boundary run per bucket pair — the island logic is
    * unchanged. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsl"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsl"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull
          .or(lag(col("event_type"), 1).over(byUser) =!= col("event_type")),
          1L).otherwise(0L))
      .withColumn("seg", sum(col("chg")).over(byUser))
      .groupBy(col("user_id"), col("seg"), col("event_type"))
      .agg(min(col("tsl")).as("from_us"), max(col("tsl")).as("to_us"),
        count(lit(1)).as("n_in_run"))
      .orderBy(col("user_id"), col("seg"))
  }

  val scd2HistorySql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsl,
      |    lag(event_type) OVER w AS prev_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |seg AS (
      |  SELECT user_id, event_type, tsl,
      |    CAST(sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY tsl, event_id)
      |      AS BIGINT) AS seg
      |  FROM o)
      |SELECT user_id, seg, event_type,
      |  min(tsl) AS from_us, max(tsl) AS to_us,
      |  count(*) AS n_in_run
      |FROM seg GROUP BY 1, 2, 3 ORDER BY user_id, seg""".stripMargin

  // --------------------------------------------------------------- q102
  /** q102: time-series resample / gap-fill — per event type, the daily
    * count series with every missing calendar day materialized as an
    * explicit zero row (`filled` marks synthesized rows). Sparse
    * event streams need this densification before any rolling-window
    * model (q100's trailing frame, for one) is meaningful: a ROWS
    * frame over a gappy series silently spans the gaps.
    *
    * The day spine is generated per type from its own [min, max] day
    * via `sequence()` + explode — O(span) rows per type, no driver
    * loop, no cross join against a global calendar table.
    *
    * Scale: the aggregate before the spine join is (type, day)-keyed
    * and map-side combines, so the join operands are cell-sized, not
    * event-sized; the spine side is types × span rows. Both sides are
    * tiny relative to the corpus at any scale factor. */
  /** q102 tracks the rare tail (value > [[GapFillMinValue]]) so the
    * series actually HAS gaps at every test scale factor — a dense
    * series would leave the fill path unexercised. */
  val GapFillMinValue = 200.0

  def gapFillDaily(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .filter(col("value") > GapFillMinValue)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("cnt").isNull.as("filled"))
      .orderBy(col("event_type"), col("day"))
  }

  val gapFillDailySql: String =
    s"""WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events WHERE value > $GapFillMinValue GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type,
      |    CAST(unnest(generate_series(min(day), max(day),
      |      INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY event_type)
      |SELECT s.event_type, s.day,
      |  CAST(coalesce(d.cnt, 0) AS BIGINT) AS cnt,
      |  (d.cnt IS NULL) AS filled
      |FROM spine s LEFT JOIN daily d
      |  ON d.event_type = s.event_type AND d.day = s.day
      |ORDER BY s.event_type, s.day""".stripMargin

  // --------------------------------------------------------------- q104
  /** Bits per dimension in the q104 z-value (8 ⇒ 16-bit z). */
  val ZBits = 8

  /** Block granularity: z >> ZBlockShift groups 64 z-cells per block. */
  val ZBlockShift = 6

  /** q104: Z-order (Morton) layout clustering — the data-layout side
    * of scan efficiency. Each part is mapped to a z-value interleaving
    * the bits of p_size and a price bucket; sorting by z co-locates
    * rows that are close in BOTH dimensions, so per-file min/max
    * statistics stay tight on either column and a 2-D predicate can
    * skip most blocks. The query reports, per 64-cell z-block, the row
    * count and the min/max of each dimension — exactly the footer
    * stats a parquet writer would persist after `ORDER BY z`.
    *
    * The interleave is a closed-form integer expression (16 shift/mask
    * terms, whole-stage-codegen'd, bit-identical in DuckDB); at scale
    * this feeds `repartitionByRange(z)` + sortWithinPartitions before
    * the write — layout, not a new operator, so the plan is one
    * map-side projection plus a block-keyed aggregate. */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val mask = (1 << ZBits) - 1
    def interleave(x: String, y: String): String =
      (0 until ZBits).flatMap { i =>
        Seq(s"shiftleft(shiftright($x, $i) & 1, ${2 * i})",
          s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})")
      }.mkString(" + ")
    part(s, d)
      .select(
        (col("p_size").cast("long") % lit(mask + 1)).as("sx"),
        // price domain is [900, 1000) in the testdata; 1-unit buckets
        // use the full 8-bit range the interleave can index
        greatest(least(floor(col("p_retailprice") - 900.0).cast("long"),
          lit(mask.toLong)), lit(0L)).as("py"))
      .withColumn("z", expr(interleave("sx", "py")))
      .groupBy(shiftright(col("z"), ZBlockShift).as("zblock"))
      .agg(count(lit(1)).as("cnt"),
        min(col("sx")).as("min_size"), max(col("sx")).as("max_size"),
        min(col("py")).as("min_pb"), max(col("py")).as("max_pb"))
      .orderBy(col("zblock"))
  }

  val zorderLayoutSql: String = {
    val mask = (1 << ZBits) - 1
    def interleave(x: String, y: String): String =
      (0 until ZBits).flatMap { i =>
        Seq(s"((($x >> $i) & 1) << ${2 * i})",
          s"((($y >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
    s"""WITH dims AS (
       |  SELECT CAST(p_size AS BIGINT) % ${mask + 1} AS sx,
       |    greatest(least(CAST(floor(p_retailprice - 900.0) AS BIGINT),
       |      $mask), 0) AS py
       |  FROM part),
       |zv AS (SELECT sx, py, ${interleave("sx", "py")} AS z FROM dims)
       |SELECT (z >> $ZBlockShift) AS zblock,
       |  count(*) AS cnt,
       |  min(sx) AS min_size, max(sx) AS max_size,
       |  min(py) AS min_pb, max(py) AS max_pb
       |FROM zv GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q105
  /** q105: batch attribution interval join — each `view` event joined
    * to the same user's `purchase` events landing within
    * [[AttributionHorizon]] AFTER the view, rolled up per view-day.
    * This is the BATCH form of `streaming.Streams.attributeStream`
    * (literally the same function: `withWatermark` on a batch frame is
    * erased by Catalyst's EliminateEventTimeWatermark, the range
    * predicate is ordinary SQL), so the oracle that hash-verifies this
    * query also pins the semantics of the stream-stream join whose
    * batch/stream equivalence StreamingSpec asserts.
    *
    * Scale: the join is EQUI on user_id with the time range as a
    * residual predicate — a hash join keyed by user, never a nested
    * loop; per-key work is bounded by one user's activity inside the
    * horizon. In the streaming form the same predicate plus the two
    * watermarks is what bounds the join state store. */
  val AttributionHorizon = "1 hour"

  def attributionDaily(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val pairs = graft.streaming.Streams.attributeStream(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts")),
      horizon = AttributionHorizon)
    pairs
      .groupBy(to_date(col("view_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        sum(unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("total_delay_us"))
      .orderBy(col("day"))
  }

  val attributionDailySql: String =
    s"""WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
       |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
       |SELECT CAST(v.ts AS DATE) AS day, count(*) AS n_pairs,
       |  count(DISTINCT v.user_id) AS n_users,
       |  CAST(sum(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT)
       |    AS total_delay_us
       |FROM v JOIN p ON p.user_id = v.user_id
       |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL $AttributionHorizon
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q106
  /** q106: CUBE over (order priority, order year) with grouping_id —
    * completes the grouping-sets family next to q47's ROLLUP. All four
    * aggregation lattices come out of ONE shuffle (Spark expands the
    * grouping sets map-side, so the fact scan runs once); decimal-cast
    * revenue terms keep the sums order-independent across engines and
    * partitionings, and the explicit grouping_id distinguishes a NULL
    * group value from the aggregated slot at any data distribution
    * (both engines put the first cube column in the high bit). */
  def cubeRevenue(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderpriority"), year(col("o_orderdate")).as("o_year"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        (floor(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double") * 1e2 + 0.5) / 1e2).as("revenue"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_year").asc_nulls_first)

  val cubeRevenueSql: String =
    """WITH o AS (SELECT o_orderpriority, year(o_orderdate) AS o_year,
      |                  o_totalprice FROM orders)
      |SELECT o_orderpriority, o_year,
      |  GROUPING(o_orderpriority, o_year) AS gid,
      |  count(*) AS n_orders,
      |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      |    * 1e2 + 0.5) / 1e2 AS revenue
      |FROM o GROUP BY CUBE (o_orderpriority, o_year)
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_year NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- q107
  /** q107: incremental aggregate maintenance — the algebraic-merge
    * contract behind every incremental pipeline: aggregate the base
    * slice (days before [[IvmSplitDay]]) and the delta slice
    * independently, then MERGE the partial states (counts add, decimal
    * sums add, mins/maxes combine) instead of re-scanning the base.
    * The oracle recomputes from the full table, so the gate proves
    * merged-state ≡ full-recompute bit-for-bit (decimal sums make the
    * merge order-immaterial). At 100 TB this is the difference between
    * an O(delta) nightly refresh and an O(corpus) one — and the same
    * merge law is what makes these aggregates partial-aggregable
    * inside Spark's own two-phase hash aggregation. */
  val IvmSplitDay = "2024-01-20"

  def incrementalAggMerge(s: SparkSession, d: String): DataFrame = {
    def slice(pred: Column): DataFrame =
      events(s, d).filter(pred)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(24,6)")).as("sv"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
    val split = to_date(lit(IvmSplitDay))
    val base = slice(to_date(col("ts")) < split)
    val delta = slice(to_date(col("ts")) >= split)
    base.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_events"),
        (floor(sum(col("sv")).cast("double") * 1e4 + 0.5) / 1e4)
          .as("total_value"),
        min(col("mn")).as("min_value"), max(col("mx")).as("max_value"))
      .orderBy(col("event_type"))
  }

  val incrementalAggMergeSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  floor(CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
      |    * 1e4 + 0.5) / 1e4 AS total_value,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q109
  /** q109: join-key skew profiler — the measurement you run BEFORE
    * choosing a join strategy at scale. Per-key counts of
    * lineitem.l_partkey (map-side-combining aggregate, ndv-sized
    * output), a scalar summary (total rows / distinct keys) broadcast
    * back, and the top-[[SkewTopK]] hottest keys with their
    * basis-point share and an integer-exact `hot` verdict
    * (cnt · [[SkewHotFactor]] > total — the "salt this key" trigger,
    * no FP compare). The top-k is a TakeOrdered over the counted frame
    * (O(k) per partition), never a global sort; ties at the cut are
    * broken by key so the limit is deterministic on both engines. */
  val SkewTopK = 5
  val SkewHotFactor = 1000L // hot ⇔ key share > 1/1000 of all rows

  def skewProfile(s: SparkSession, d: String): DataFrame = {
    val counts = lineitem(s, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("ndv"))
    counts.orderBy(col("cnt").desc, col("l_partkey").asc)
      .limit(SkewTopK)
      .crossJoin(broadcast(totals)) // 1-row scalar frame
      .select(col("l_partkey"), col("cnt"), col("total"), col("ndv"),
        (floor(col("cnt").cast("double") / col("total") * 1e4 * 1e2 + 0.5)
          / 1e2).as("share_bp"),
        (col("cnt") * lit(SkewHotFactor) > col("total")).as("hot"))
      .orderBy(col("cnt").desc, col("l_partkey").asc)
  }

  val skewProfileSql: String =
    s"""WITH counts AS (
       |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
       |totals AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS ndv
       |  FROM counts),
       |top AS (
       |  SELECT * FROM counts ORDER BY cnt DESC, l_partkey LIMIT $SkewTopK)
       |SELECT l_partkey, cnt, total, ndv,
       |  floor(CAST(cnt AS DOUBLE) / total * 1e4 * 1e2 + 0.5) / 1e2
       |    AS share_bp,
       |  (cnt * $SkewHotFactor > total) AS hot
       |FROM top CROSS JOIN totals
       |ORDER BY cnt DESC, l_partkey""".stripMargin

  // --------------------------------------------------------------- q112
  /** q112: changelog → latest-state compaction (the CDC "current
    * snapshot" materialization): per user, the most recent event on
    * the (ts, event_id) total order. Implemented as a max-of-struct
    * aggregate — O(1) state per key, map-side combining — NOT a
    * row_number window, which would sort every key's full history in
    * one task; at changelog scale the aggregate form is the one that
    * survives (it is also exactly how a streaming state store keeps
    * "latest per key"). The struct's (tsl, event_id) prefix is unique,
    * so the trailing payload fields never decide a comparison. The
    * oracle replays the window form, proving aggregate ≡ window. */
  def latestState(s: SparkSession, d: String): DataFrame =
    latestStateOn(events(s, d)).orderBy(col("user_id"))

  /** The q112 aggregate over any (user_id, ts, event_id, event_type,
    * value) changelog — UNORDERED, and legal on a STREAMING frame too:
    * in update mode Spark keeps exactly one struct per key in the state
    * store (`streaming.Streams.latestStateStream`), which is the
    * incremental form of this same compaction. */
  def latestStateOn(changelog: DataFrame): DataFrame =
    changelog
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("tsl"),
          col("event_id"), col("event_type"), col("value")).as("st"))
      .groupBy(col("user_id"))
      .agg(max(col("st")).as("st"))
      .select(col("user_id"), col("st.tsl").as("last_ts_us"),
        col("st.event_id").as("last_event_id"),
        col("st.event_type").as("last_type"),
        col("st.value").as("last_value"))

  val latestStateSql: String =
    """WITH r AS (
      |  SELECT user_id, epoch_us(ts) AS tsl, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, tsl AS last_ts_us, event_id AS last_event_id,
      |  event_type AS last_type, value AS last_value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q115
  /** q115: event-type transition matrix — per-user behavior sequences
    * (total order: ts, event_id) reduced to first-order Markov
    * statistics: count and P(next | prev) for every observed
    * transition. The lead window is USER-keyed — bounded by one user's
    * history, the same per-key frame q101's SCD2 build uses — and
    * everything after it is a |types|²-cell aggregate; the conditional
    * probability divides by a row-total window over that bounded
    * matrix, not over the event log. */
  def typeTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsl"), col("event_id"))
    events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsl"),
        col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("p", floor(col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy(col("prev_type")))
          .cast("double") * 1e4 + 0.5) / 1e4)
      .orderBy(col("prev_type"), col("next_type"))
  }

  val typeTransitionsSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |c AS (
      |  SELECT event_type AS prev_type, next_type, count(*) AS cnt
      |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, cnt,
      |  floor(CAST(cnt AS DOUBLE)
      |    / CAST(sum(cnt) OVER (PARTITION BY prev_type) AS DOUBLE)
      |    * 1e4 + 0.5) / 1e4 AS p
      |FROM c ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q119
  /** q119 window length in days (trailing, inclusive). */
  val RollingActiveDays = 7

  /** q119: rolling 7-day active users — per day, the count of DISTINCT
    * users active in the trailing [[RollingActiveDays]]-day window.
    * Exact rolling distincts don't decompose over a sliding frame (a
    * user active twice in the window counts once), so a windowed
    * aggregate over daily counts is WRONG and a per-day full-history
    * pass is O(days·data). The scale-correct exact shape: reduce to
    * distinct (user, day) — the only corpus-sized step, one shuffle —
    * then each (user, day) EXPANDS to the ≤ 7 window days it covers
    * (map-side sequence/explode) and one day-keyed count-distinct
    * finishes. Cost is 7× the distinct user-day table, independent of
    * events per user-day; leading days carry their honest partial
    * windows, trailing phantom days (beyond the last observed day) are
    * cut by the broadcast max-day scalar. */
  def rollingActiveUsers(s: SparkSession, d: String): DataFrame = {
    val ud = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val mx = ud.agg(max(col("day")).as("mx"))
    ud.select(col("user_id"),
        explode(sequence(col("day"),
          date_add(col("day"), RollingActiveDays - 1),
          expr("interval 1 day"))).as("day"))
      .crossJoin(broadcast(mx)) // 1-row scalar frame
      .filter(col("day") <= col("mx"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
      .orderBy(col("day"))
  }

  val rollingActiveUsersSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |mx AS (SELECT max(day) AS mx FROM ud),
       |cover AS (
       |  SELECT user_id,
       |    CAST(unnest(generate_series(day,
       |      day + INTERVAL ${RollingActiveDays - 1} DAY,
       |      INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM ud)
       |SELECT c.day, count(DISTINCT c.user_id) AS active_7d
       |FROM cover c CROSS JOIN mx
       |WHERE c.day <= mx.mx
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q124
  /** q124 multiple of the segment average a "whale" must exceed. */
  val WhaleFactor = 2

  /** q124: correlated-subquery pattern — customers whose lifetime
    * spend exceeds [[WhaleFactor]]× their market segment's average
    * customer spend. The classic "compare each row to its group's
    * aggregate" query, decorrelated the way an optimizer would:
    * per-customer spend aggregate, then the segment aggregate of THAT
    * (both map-side combining), broadcast back — never a per-row
    * subquery execution. The whale predicate is evaluated in EXACT
    * arithmetic (spend·n_cust > factor·seg_total — decimal/integer
    * only, no division), so the cut is bit-identical in both engines;
    * division appears only in display columns after the decision. */
  def segmentWhales(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("spend"))
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment")), "o_custkey")
    val seg = spend.groupBy(col("c_mktsegment"))
      .agg(sum(col("spend")).as("seg_total"),
        count(lit(1)).as("n_cust"))
    spend.join(broadcast(seg), Seq("c_mktsegment"))
      .filter(col("spend") * col("n_cust") >
        col("seg_total") * lit(WhaleFactor))
      .select(col("o_custkey").as("custkey"), col("c_mktsegment"),
        (floor(col("spend").cast("double") * 1e2 + 0.5) / 1e2)
          .as("spend"),
        (floor(col("seg_total").cast("double") /
          col("n_cust").cast("double") * 1e2 + 0.5) / 1e2)
          .as("seg_avg"))
      .orderBy(col("c_mktsegment"), col("custkey"))
  }

  val segmentWhalesSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey, c_mktsegment,
       |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  GROUP BY 1, 2),
       |seg AS (
       |  SELECT c_mktsegment, sum(spend) AS seg_total,
       |    count(*) AS n_cust
       |  FROM spend GROUP BY 1)
       |SELECT s.o_custkey AS custkey, s.c_mktsegment,
       |  floor(CAST(s.spend AS DOUBLE) * 1e2 + 0.5) / 1e2 AS spend,
       |  floor(CAST(g.seg_total AS DOUBLE) / CAST(g.n_cust AS DOUBLE)
       |    * 1e2 + 0.5) / 1e2 AS seg_avg
       |FROM spend s JOIN seg g ON g.c_mktsegment = s.c_mktsegment
       |WHERE s.spend * g.n_cust > g.seg_total * $WhaleFactor
       |ORDER BY s.c_mktsegment, custkey""".stripMargin

  // --------------------------------------------------------------- q125
  /** q125 outlier cut in MAD units (3·1.4826 ≈ 3σ for normal data). */
  val MadK = 3.0 * 1.4826

  /** q125: robust outlier census — per event type: median, MAD
    * (median absolute deviation), and the count of values beyond
    * [[MadK]]·MAD from the median — the outlier detector that, unlike
    * q100's z-score, a few extreme values cannot drag. Exactness:
    * values integerize to vk = floor(value·100 + 0.5) (the data's own
    * 2-dp grid), medians interpolate ints at the dyadic 0.5 — so every
    * median/MAD is an exact multiple of 0.5 and both engines agree
    * bit-for-bit; the final compare is identical double arithmetic on
    * those exact quantities. Two grouped aggregates with a broadcast
    * join between them — types are bounded, data passes map-side. */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val t = events(s, d).select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("vk"))
      .localCheckpoint() // kept: 2 readers; 20% slower at sf0.1 without it
    val med = t.groupBy(col("event_type"))
      .agg(expr("percentile(vk, 0.5D)").as("med"))
    val devs = t.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("med"),
        abs(col("vk").cast("double") - col("med")).as("dev"))
      .localCheckpoint() // kept: 2 readers, no shuffle under them
    val mad = devs.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5D)").as("mad"))
    devs.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (max(col("med")) / 100.0).as("median_value"),
        (max(col("mad")) / 100.0).as("mad_value"),
        sum((col("dev") > col("mad") * lit(MadK)).cast("long"))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val madOutliersSql: String = {
    s"""WITH t AS (
       |  SELECT event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vk
       |  FROM events),
       |med AS (
       |  SELECT event_type, quantile_cont(vk, 0.5) AS med
       |  FROM t GROUP BY 1),
       |dev AS (
       |  SELECT t.event_type, med,
       |    abs(CAST(vk AS DOUBLE) - med) AS dev
       |  FROM t JOIN med ON med.event_type = t.event_type),
       |mad AS (
       |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
       |  FROM dev GROUP BY 1)
       |SELECT d.event_type, count(*) AS n,
       |  max(d.med) / 100.0 AS median_value,
       |  max(m.mad) / 100.0 AS mad_value,
       |  CAST(sum(CASE WHEN d.dev > m.mad * $MadK THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM dev d JOIN mad m ON m.event_type = d.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q121
  /** q121: cumulative distinct users per day — "uniques to date", the
    * growth curve every product dashboard wants. Exact, with NO
    * per-day history rescans and NO day-partitioned distinct blowup:
    * a user contributes exactly at their FIRST day (one user-keyed
    * min aggregate — the only corpus-sized shuffle), then per-day
    * first-timer counts running-sum over the bounded day frame. The
    * trick that turns an O(days·data) cumulative distinct into one
    * aggregate plus arithmetic on a #days-row frame. */
  def cumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val firsts = events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
      .groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    // global window — BOUNDED: input is the per-day frame (one row
    // per calendar day with ≥1 first-time user), ≤ a few thousand
    // rows for decades of data, independent of corpus size.
    firsts.withColumn("cumulative_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy(col("day"))
  }

  val cumulativeUsersSql: String =
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
      |  GROUP BY 1),
      |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
      |FROM n ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q122
  /** Per-step deadline for the q122 funnel, in hours. Both the engine
    * and the SQL oracle derive their µs literal from this, so editing
    * it moves the whole funnel (ADVICE r7: the old string constant was
    * decorative — the 24 h was hardcoded twice). */
  val FunnelStepHorizonHours = 24L

  /** [[FunnelStepHorizonHours]] as epoch-µs — the unit the event
    * timestamps are compared in. */
  val FunnelStepHorizonUs: Long = FunnelStepHorizonHours * 3600L * 1000000L

  /** q122: multi-step time-bounded funnel — view → click within
    * [[FunnelStepHorizonHours]] of the first view → purchase within the
    * horizon of that click (24 h steps — the 1 h attribution horizon
    * q105 uses leaves this funnel's bottom empty at every test SF); one summary row with per-stage user counts
    * and floor-rounded conversion rates. Each stage is a user-keyed
    * min-aggregate over the previous stage's frontier (events join a
    * user-keyed frontier, then min-aggregate) — never a window over a
    * user's full history, and the stage frames shrink monotonically.
    * The generalization of q78's two-step funnel. */
  def multiStepFunnel(s: SparkSession, d: String): DataFrame = {
    // kept: 3 readers; 12% slower at sf0.1 without it
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsl")).localCheckpoint()
    val horizonUs = FunnelStepHorizonUs
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tsl")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("tsl") > col("v_ts") &&
        col("tsl") <= col("v_ts") + horizonUs)
      .groupBy(col("user_id")).agg(min(col("tsl")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("tsl") > col("c_ts") &&
        col("tsl") <= col("c_ts") + horizonUs)
      .groupBy(col("user_id")).agg(min(col("tsl")).as("p_ts"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
        c.agg(count(lit(1)).as("n_click"))).crossJoin(
        p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        (floor(col("n_click").cast("double") / col("n_view")
          .cast("double") * 1e4 + 0.5) / 1e4).as("view_to_click"),
        (floor(col("n_purchase").cast("double") / col("n_click")
          .cast("double") * 1e4 + 0.5) / 1e4).as("click_to_purchase"))
  }

  val multiStepFunnelSql: String = {
    val h = FunnelStepHorizonUs
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsl
       |            FROM events),
       |v AS (SELECT user_id, min(tsl) AS v_ts FROM ev
       |      WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(e.tsl) AS c_ts
       |      FROM ev e JOIN v ON v.user_id = e.user_id
       |      WHERE e.event_type = 'click'
       |        AND e.tsl > v.v_ts AND e.tsl <= v.v_ts + $h
       |      GROUP BY 1),
       |p AS (SELECT e.user_id, min(e.tsl) AS p_ts
       |      FROM ev e JOIN c ON c.user_id = e.user_id
       |      WHERE e.event_type = 'purchase'
       |        AND e.tsl > c.c_ts AND e.tsl <= c.c_ts + $h
       |      GROUP BY 1)
       |SELECT
       |  (SELECT count(*) FROM v) AS n_view,
       |  (SELECT count(*) FROM c) AS n_click,
       |  (SELECT count(*) FROM p) AS n_purchase,
       |  floor(CAST((SELECT count(*) FROM c) AS DOUBLE)
       |    / CAST((SELECT count(*) FROM v) AS DOUBLE) * 1e4 + 0.5) / 1e4
       |    AS view_to_click,
       |  floor(CAST((SELECT count(*) FROM p) AS DOUBLE)
       |    / CAST((SELECT count(*) FROM c) AS DOUBLE) * 1e4 + 0.5) / 1e4
       |    AS click_to_purchase""".stripMargin
  }

  // --------------------------------------------------------------- q123
  /** q123: pivot → unpivot round-trip — the wide↔long reshaping pair:
    * daily event counts pivoted to one column per (pinned) type, then
    * UNPIVOTed back to long form with `stack`. The oracle is the plain
    * long-form aggregate, so the gate proves unpivot ∘ pivot =
    * identity (zero cells materialized by the pivot are dropped on the
    * way back, matching the aggregate's absent groups). Both reshapes
    * are map-side over the day-keyed aggregate. */
  def pivotRoundtrip(s: SparkSession, d: String): DataFrame = {
    // the shared pinned domain — a domain change must move this pivot
    // and the long-form oracle together (ADVICE r7)
    val types = EventTypes
    val wide = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    val stackExpr = s"stack(${types.length}, " +
      types.map(t => s"'$t', `$t`").mkString(", ") +
      ") AS (event_type, cnt)"
    wide.select(col("day"), expr(stackExpr))
      .filter(col("cnt").isNotNull)
      .orderBy(col("day"), col("event_type"))
  }

  val pivotRoundtripSql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q126
  /** Total sample size the q126 apportionment allocates. */
  val PropSampleTotal = 100L

  /** q126: proportional stratified-sample quotas by largest remainder
    * (Hamilton apportionment) — per (source, lang) stratum: its doc
    * count and its integer quota out of [[PropSampleTotal]], with
    * floor(T·n/N) seats first and the T − Σfloors leftover seats going
    * to the largest remainders (remainder = T·n mod N, ties by stratum
    * key — fully deterministic). Everything is INTEGER arithmetic —
    * exact in both engines, quotas provably sum to T — and all windows
    * run over the #strata-row frame; the only corpus-sized step is the
    * stratum count. The allocation table q77's per-stratum picker then
    * consumes. */
  def proportionalQuota(s: SparkSession, d: String): DataFrame = {
    val strata = documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val t = PropSampleTotal
    val withTotal = strata.crossJoin(broadcast(
      strata.agg(sum(col("n_docs")).as("n_total"))))
    // `div`, not `/`: Spark's `/` on longs promotes to DOUBLE, whose
    // rounding can cross an integer boundary; div is exact both engines
    val base = withTotal.select(col("source"), col("lang"), col("n_docs"),
      expr(s"(n_docs * $t) div n_total").as("floor_q"),
      ((col("n_docs") * t) % col("n_total")).as("rem"))
    // global window — BOUNDED: input is the strata frame, one row per
    // (source, lang) pair — a product of two low-cardinality
    // dimensions (post-aggregate), not corpus rows.
    val leftovers = base
      .withColumn("rr", row_number().over(Window.orderBy(
        col("rem").desc, col("source"), col("lang"))))
      .crossJoin(broadcast(base.agg((lit(t) - sum(col("floor_q")))
        .as("n_left"))))
    leftovers.select(col("source"), col("lang"), col("n_docs"),
        (col("floor_q") + (col("rr") <= col("n_left")).cast("long"))
          .as("quota"))
      .orderBy(col("source"), col("lang"))
  }

  val proportionalQuotaSql: String = {
    val t = PropSampleTotal
    s"""WITH strata AS (
       |  SELECT source, lang, count(*) AS n_docs FROM documents
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total
       |        FROM strata),
       |base AS (
       |  SELECT source, lang, n_docs,
       |    CAST(n_docs * $t // n_total AS BIGINT) AS floor_q,
       |    CAST((n_docs * $t) % n_total AS BIGINT) AS rem
       |  FROM strata CROSS JOIN tot),
       |lv AS (SELECT CAST($t - sum(floor_q) AS BIGINT) AS n_left
       |       FROM base),
       |rk AS (
       |  SELECT source, lang, n_docs, floor_q,
       |    row_number() OVER (ORDER BY rem DESC, source, lang) AS rr
       |  FROM base)
       |SELECT source, lang, n_docs,
       |  CAST(floor_q + CASE WHEN rr <= n_left THEN 1 ELSE 0 END
       |    AS BIGINT) AS quota
       |FROM rk CROSS JOIN lv
       |ORDER BY source, lang""".stripMargin
  }

  // --------------------------------------------------------------- q128
  /** q128: point-in-time (feature-store) join — each purchase enriched
    * with the user's STATE at purchase time, where state is the q101
    * SCD2 run of non-purchase activity and "at time t" means the
    * latest run starting ≤ t (as-of semantics — runs tile with gaps,
    * so interval containment would silently drop probes that land in a
    * gap). The training-data discipline this encodes: features joined
    * as-of the label's timestamp can never leak the future. Probe-side
    * work is a user-keyed join against the user's own runs plus a
    * max-of-struct argmax per probe (O(1) state, no per-probe window);
    * purchases with no prior state survive through the left join as
    * 'none'. Output is one row per state type. */
  def stateAtPurchase(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("tsl"), col("event_id"),
      col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsl"), col("event_id"))
    val runs = ev.filter(col("event_type") =!= "purchase")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type").as("state_type"),
        col("tsl").as("s_ts"), col("event_id").as("s_eid"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsl").as("p_ts"), col("event_id"))
    val best = pur
      .join(runs, Seq("user_id"))
      .filter(col("s_ts") <= col("p_ts"))
      .groupBy(col("user_id"), col("p_ts"), col("event_id"))
      .agg(max(struct(col("s_ts"), col("s_eid"), col("state_type")))
        .as("st"))
    pur.join(best, Seq("user_id", "p_ts", "event_id"), "left_outer")
      .groupBy(coalesce(col("st.state_type"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(col("p_ts") - col("st.s_ts")), lit(0L))
          .as("total_delay_us"))
      .orderBy(col("state"))
  }

  val stateAtPurchaseSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tsl, event_id, event_type
      |  FROM events),
      |runs AS (
      |  SELECT user_id, event_type AS state_type, tsl AS s_ts,
      |    event_id AS s_eid
      |  FROM (
      |    SELECT user_id, event_type, tsl, event_id,
      |      lag(event_type) OVER (PARTITION BY user_id
      |        ORDER BY tsl, event_id) AS prev
      |    FROM ev WHERE event_type <> 'purchase')
      |  WHERE prev IS NULL OR prev <> event_type),
      |pur AS (SELECT user_id, tsl AS p_ts, event_id FROM ev
      |        WHERE event_type = 'purchase'),
      |joined AS (
      |  SELECT p.user_id, p.p_ts, p.event_id, r.state_type, r.s_ts,
      |    row_number() OVER (PARTITION BY p.user_id, p.p_ts, p.event_id
      |      ORDER BY r.s_ts DESC, r.s_eid DESC) AS rn
      |  FROM pur p JOIN runs r
      |    ON r.user_id = p.user_id AND r.s_ts <= p.p_ts),
      |best AS (SELECT * FROM joined WHERE rn = 1)
      |SELECT coalesce(b.state_type, 'none') AS state,
      |  count(*) AS n_purchases,
      |  CAST(coalesce(sum(p.p_ts - b.s_ts), 0) AS BIGINT)
      |    AS total_delay_us
      |FROM pur p LEFT JOIN best b
      |  ON b.user_id = p.user_id AND b.p_ts = p.p_ts
      |  AND b.event_id = p.event_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q129
  /** q129 price bands (lo inclusive, hi exclusive; hi=null = open). */
  val PriceBands: Seq[(String, Double, Option[Double])] = Seq(
    ("low", 0.0, Some(100000.0)),
    ("mid", 100000.0, Some(300000.0)),
    ("high", 300000.0, None))

  /** q129: broadcast interval-lookup join — orders banded by a small
    * RANGE dimension (the GeoIP/price-band/SLA-tier shape). With a
    * band table this small Spark's BroadcastNestedLoopJoin is the
    * RIGHT plan — per-row work is #bands comparisons, no shuffle — and
    * that is the point: a range dim is broadcast-joined, not shuffled,
    * and not hard-coded into a CASE (the band table is data, not
    * code). Decimal-cast revenue keeps the sums order-independent. */
  def priceBandRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = PriceBands
      .map { case (b, lo, hi) => (b, lo, hi.getOrElse(Double.MaxValue)) }
      .toDF("band", "lo", "hi")
    orders(s, d).select(col("o_totalprice"))
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        (floor(sum(col("o_totalprice").cast("decimal(18,6)"))
          .cast("double") * 1e2 + 0.5) / 1e2).as("revenue"))
      .orderBy(col("band"))
  }

  val priceBandRevenueSql: String = {
    val rows = PriceBands.map { case (b, lo, hi) =>
      s"('$b', CAST($lo AS DOUBLE), CAST(${hi.getOrElse(Double.MaxValue)} AS DOUBLE))"
    }.mkString(", ")
    s"""WITH bands(band, lo, hi) AS (VALUES $rows)
       |SELECT band, count(*) AS n_orders,
       |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
       |    * 1e2 + 0.5) / 1e2 AS revenue
       |FROM orders JOIN bands
       |  ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q130
  /** q130: order-lifecycle (accumulating-snapshot) stats — per order,
    * the span from order date to its LAST line shipment; then per
    * priority: order count, mean and max fulfillment days. The
    * order-keyed max-aggregate is the accumulating-snapshot build (one
    * row per order, updated as lines ship); the priority rollup is
    * dimension-sized. Day spans are exact integer date diffs, the mean
    * goes through the floor idiom. */
  def orderLifecycle(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(datediff(max(to_date(col("l_shipdate"))),
        min(to_date(col("o_orderdate")))).cast("long").as("days_to_ship"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (floor(sum(col("days_to_ship")).cast("double") /
          count(lit(1)).cast("double") * 1e4 + 0.5) / 1e4)
          .as("avg_days"),
        max(col("days_to_ship")).as("max_days"))
      .orderBy(col("o_orderpriority"))

  val orderLifecycleSql: String =
    """WITH per AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    date_diff('day', min(CAST(o_orderdate AS DATE)),
      |      max(CAST(l_shipdate AS DATE))) AS days_to_ship
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  floor(CAST(sum(days_to_ship) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS avg_days,
      |  CAST(max(days_to_ship) AS BIGINT) AS max_days
      |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q131
  /** q131 group top-k for the rank-filter idiom. */
  val RankFilterK = 3

  /** q131: rank-filter top-k per group — the `rank() ≤ k` idiom on its
    * own, because the PLAN matters: Spark rewrites the filtered window
    * into WindowGroupLimit, which keeps a running top-k per partition
    * BEFORE the window sort, so each group ships k·partitions rows into
    * the exchange instead of its full membership (PlansSpec pins the
    * rewrite). `rank` (not row_number) keeps ties — the deterministic
    * tie column makes the output order total anyway. */
  def topOrdersPerPriority(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= RankFilterK)
      .orderBy(col("o_orderpriority"), col("rk"), col("o_orderkey"))
  }

  val topOrdersPerPrioritySql: String =
    s"""SELECT * FROM (
       |  SELECT o_orderpriority, o_orderkey, o_totalprice,
       |    CAST(rank() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
       |  FROM orders)
       |WHERE rk <= $RankFilterK
       |ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q133
  /** q133: RFM segmentation — per user: Recency (last-activity time,
    * cut at the median last-activity time — later ⇔ more recent, so no
    * corpus-max subtraction is needed), Frequency (event count), Monetary
    * (integerized value sum), each cut at the GLOBAL median into
    * high/low, yielding 8 segments with user counts — the classic
    * behavioral-segmentation matrix. Exactness: R/F/M are integers;
    * the three medians interpolate integers at the dyadic 0.5 (exact
    * multiples of 0.5, bit-identical cross-engine — the q116/q125
    * trick); segment membership is a half-exact double compare.
    * One user-keyed aggregate (the only corpus-sized shuffle), scalar
    * medians broadcast back, segment census is 8 rows. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsl"),
        floor(col("value") * 100 + 0.5).cast("long").as("vk"))
      .groupBy(col("user_id"))
      .agg(max(col("tsl")).as("last_ts"), count(lit(1)).as("f"),
        sum(col("vk")).as("m"))
      .localCheckpoint() // kept: 2 readers; 14% slower at sf0.1 without it
    val cuts = perUser.agg(
      expr("percentile(last_ts, 0.5D)").as("r_med"),
      expr("percentile(f, 0.5D)").as("f_med"),
      expr("percentile(m, 0.5D)").as("m_med"))
    perUser.crossJoin(broadcast(cuts)) // 1-row cut frame
      .select(
        // recent ⇔ last activity AFTER the median last-activity time
        (col("last_ts").cast("double") > col("r_med")).as("recent"),
        (col("f").cast("double") > col("f_med")).as("frequent"),
        (col("m").cast("double") > col("m_med")).as("high_value"))
      .groupBy(col("recent"), col("frequent"), col("high_value"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("recent"), col("frequent"), col("high_value"))
  }

  val rfmSegmentsSql: String =
    """WITH per AS (
      |  SELECT user_id, max(epoch_us(ts)) AS last_ts,
      |    count(*) AS f,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS m
      |  FROM events GROUP BY 1),
      |cuts AS (
      |  SELECT quantile_cont(last_ts, 0.5) AS r_med,
      |    quantile_cont(f, 0.5) AS f_med,
      |    quantile_cont(m, 0.5) AS m_med
      |  FROM per)
      |SELECT (CAST(last_ts AS DOUBLE) > r_med) AS recent,
      |  (CAST(f AS DOUBLE) > f_med) AS frequent,
      |  (CAST(m AS DOUBLE) > m_med) AS high_value,
      |  count(*) AS n_users
      |FROM per CROSS JOIN cuts
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q134
  /** q134 minimum group size (k in k-anonymity). */
  val KAnonK = 10L

  /** q134: k-anonymity audit over quasi-identifiers — group sizes for
    * the (source, lang) quasi-identifier pair, flagging groups below
    * [[KAnonK]] members: the release-readiness check that a dataset's
    * identifier combinations don't isolate individuals (here:
    * documents). Reports per group-size-violation status the group
    * count and total docs, plus each violating group — both
    * group-keyed aggregates, summary-sized output at any scale. */
  def kAnonymityAudit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("lang"), col("n_docs"),
        (col("n_docs") < KAnonK).as("violates_k"))
      .orderBy(col("source"), col("lang"))

  val kAnonymityAuditSql: String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |  (count(*) < $KAnonK) AS violates_k
       |FROM documents GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q135
  /** q135: cross-series correlation — Pearson r between the daily
    * click and purchase count series ("do clicks drive purchases?").
    * Same exactness discipline as q118's assortativity: the day-keyed
    * conditional aggregate yields INTEGER series, all five moments are
    * order-independent integer sums, and the final r is identical
    * double arithmetic plus one correctly-rounded sqrt; zero-variance
    * degenerates to null, not NaN. One corpus-sized aggregate, then a
    * #days frame. */
  def dailyCorrelation(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "click").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(col("n"),
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")).as("num"),
        ((col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          * (col("n").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")))
          .as("den"))
      .select(col("n").as("n_days"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise(floor(col("num") / sqrt(col("den")) * 1e6 + 0.5)
            / 1e6).as("click_purchase_corr"))
  }

  val dailyCorrelationSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM daily),
      |nd AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
      |  FROM m)
      |SELECT n AS n_days,
      |  CASE WHEN den = 0.0 THEN NULL
      |    ELSE floor(num / sqrt(den) * 1e6 + 0.5) / 1e6
      |  END AS click_purchase_corr
      |FROM nd""".stripMargin

  // --------------------------------------------------------------- q136
  /** q136: day-of-week seasonality — per (event type, ISO weekday) the
    * observed/expected ratio under independence (the q114/q117 lift
    * shape applied to the time axis): index > 1 ⇒ that type
    * over-indexes on that weekday. Exact integer moments through
    * identically-written IEEE mul/div; weekday via `weekday()+1` ↔
    * `isodow` so both engines agree Mon=1…Sun=7. Output is a
    * |types|×7 matrix. */
  def dowSeasonality(s: SparkSession, d: String): DataFrame = {
    val obs = events(s, d)
      .groupBy(col("event_type"), (weekday(col("ts")) + 1).as("dow"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // kept: 4 readers; 2 more stages without it
    val byType = obs.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("t_tot"))
    val byDow = obs.groupBy(col("dow")).agg(sum(col("cnt")).as("d_tot"))
    val total = obs.agg(sum(col("cnt")).as("n_tot"))
    obs.join(broadcast(byType), Seq("event_type"))
      .join(broadcast(byDow), Seq("dow"))
      .crossJoin(broadcast(total)) // 1-row scalar frame
      .select(col("event_type"), col("dow"), col("cnt"),
        (floor(col("cnt").cast("double") * col("n_tot").cast("double")
          / (col("t_tot").cast("double") * col("d_tot").cast("double"))
          * 1e4 + 0.5) / 1e4).as("seasonality_idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  val dowSeasonalitySql: String =
    """WITH obs AS (
      |  SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |bt AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS t_tot
      |       FROM obs GROUP BY 1),
      |bd AS (SELECT dow, CAST(sum(cnt) AS BIGINT) AS d_tot
      |       FROM obs GROUP BY 1),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tot FROM obs)
      |SELECT o.event_type, o.dow, o.cnt,
      |  floor(CAST(o.cnt AS DOUBLE) * CAST(n.n_tot AS DOUBLE)
      |    / (CAST(bt.t_tot AS DOUBLE) * CAST(bd.d_tot AS DOUBLE))
      |    * 1e4 + 0.5) / 1e4 AS seasonality_idx
      |FROM obs o JOIN bt ON bt.event_type = o.event_type
      |           JOIN bd ON bd.dow = o.dow
      |           CROSS JOIN n
      |ORDER BY o.event_type, o.dow""".stripMargin

  // --------------------------------------------------------------- q137
  /** q137: attribution-model comparison — for each purchase, its
    * FIRST-touch and LAST-touch view within the trailing 24 h; per
    * purchase-day: purchases, attributed purchases, and how often the
    * two models pick the same touch — the number that says whether the
    * model choice even matters on this data. One user-keyed join of
    * purchases against views with min/max-of-struct aggregates per
    * purchase (no per-user window), day-keyed rollup after. */
  def attributionModels(s: SparkSession, d: String): DataFrame = {
    val h = 24L * 3600L * 1000000L
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsl"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tsl").as("v_ts"),
        col("event_id").as("v_id"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsl").as("p_ts"), col("event_id"))
    val touched = pur.join(views, Seq("user_id"))
      .filter(col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - h)
      .groupBy(col("user_id"), col("p_ts"), col("event_id"))
      .agg(min(struct(col("v_ts"), col("v_id"))).as("first_touch"),
        max(struct(col("v_ts"), col("v_id"))).as("last_touch"))
    pur.join(touched, Seq("user_id", "p_ts", "event_id"), "left_outer")
      .groupBy(timestamp_micros(col("p_ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("first_touch").isNotNull.cast("long"))
          .as("n_attributed"),
        // coalesce: a day where NO purchase had a touch sums all-null
        // to null, where the oracle's CASE yields 0
        coalesce(sum((col("first_touch.v_id") === col("last_touch.v_id"))
          .cast("long")), lit(0L)).as("n_single_touch"))
      .orderBy(col("day"))
  }

  val attributionModelsSql: String = {
    val h = 24L * 3600L * 1000000L
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tsl, event_id
       |  FROM events),
       |v AS (SELECT user_id, tsl AS v_ts, event_id AS v_id FROM ev
       |      WHERE event_type = 'view'),
       |p AS (SELECT user_id, tsl AS p_ts, event_id FROM ev
       |      WHERE event_type = 'purchase'),
       |joined AS (
       |  SELECT p.user_id, p.p_ts, p.event_id, v.v_id,
       |    row_number() OVER (PARTITION BY p.user_id, p.p_ts, p.event_id
       |      ORDER BY v.v_ts, v.v_id) AS rf,
       |    row_number() OVER (PARTITION BY p.user_id, p.p_ts, p.event_id
       |      ORDER BY v.v_ts DESC, v.v_id DESC) AS rl
       |  FROM p JOIN v ON v.user_id = p.user_id
       |    AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - $h),
       |touched AS (
       |  SELECT user_id, p_ts, event_id,
       |    max(CASE WHEN rf = 1 THEN v_id END) AS first_id,
       |    max(CASE WHEN rl = 1 THEN v_id END) AS last_id
       |  FROM joined GROUP BY 1, 2, 3)
       |SELECT CAST(make_timestamp(p.p_ts) AS DATE) AS day,
       |  count(*) AS n_purchases,
       |  CAST(sum(CASE WHEN t.first_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_attributed,
       |  CAST(sum(CASE WHEN t.first_id = t.last_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_single_touch
       |FROM p LEFT JOIN touched t
       |  ON t.user_id = p.user_id AND t.p_ts = p.p_ts
       |  AND t.event_id = p.event_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q138
  /** q138: daily percentile bands — per day, n and the p50/p90/p99 of
    * `value` by the NEAREST-RANK method (smallest grid value whose
    * cumulative count reaches ⌈q·n⌉). Interpolated percentiles at
    * non-dyadic q (0.9, 0.99) are NOT cross-engine-stable — the two
    * engines factor the interpolation differently — so this picks
    * actual data points by integer rank instead: exact, and the
    * SLA-dashboard convention anyway. Work shape: per-(day, 2-dp grid
    * value) counts (map-side combine, grid-bounded state), cumulative
    * window over each day's bounded grid, three conditional mins. */
  def dailyPercentiles(s: SparkSession, d: String): DataFrame = {
    val g = events(s, d)
      .select(to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("vk"))
      .groupBy(col("day"), col("vk")).agg(count(lit(1)).as("cnt"))
    val tot = g.groupBy(col("day")).agg(sum(col("cnt")).as("n"))
    val cum = g.join(tot, Seq("day"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("day")).orderBy(col("vk"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    def pick(q: String) =
      (min(when(col("cum").cast("double") >=
        ceil(col("n").cast("double") * q.toDouble), col("vk")))
        .cast("double") / 100.0)
    cum.groupBy(col("day"), col("n"))
      .agg(pick("0.5").as("p50"), pick("0.9").as("p90"),
        pick("0.99").as("p99"))
      .orderBy(col("day"))
  }

  val dailyPercentilesSql: String = {
    def pick(q: String) =
      s"""CAST(min(CASE WHEN CAST(cum AS DOUBLE) >=
         |    ceil(CAST(n AS DOUBLE) * $q) THEN vk END) AS DOUBLE)
         |  / 100.0""".stripMargin
    s"""WITH g AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vk,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n
       |        FROM g GROUP BY 1),
       |c AS (
       |  SELECT g.day, g.vk, t.n,
       |    CAST(sum(g.cnt) OVER (PARTITION BY g.day ORDER BY g.vk
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM g JOIN tot t ON t.day = g.day)
       |SELECT day, n,
       |  ${pick("0.5")} AS p50,
       |  ${pick("0.9")} AS p90,
       |  ${pick("0.99")} AS p99
       |FROM c GROUP BY day, n ORDER BY day""".stripMargin
  }

  // --------------------------------------------------------------- q140
  /** q140: cohort LTV curve — per signup-day cohort, the CUMULATIVE
    * per-user value through each day offset (the revenue companion of
    * q79's retention matrix: "how much is a day-d cohort worth by day
    * d+k?"). Cohort = each user's first event day. Decimal value sums
    * keep every cell order-independent; the cumulative window runs
    * over the bounded cohort×offset matrix, never over events; the
    * only corpus-sized shuffles are user- and (cohort, offset)-keyed.
    * Offsets are capped at [[LtvMaxOffset]] so the output is a fixed
    * matrix at any time span. */
  val LtvMaxOffset = 7

  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      to_date(col("ts")).as("day"), col("value"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort"))
    val cells = ev.join(cohorts, Seq("user_id"))
      .withColumn("offset", datediff(col("day"), col("cohort")))
      .filter(col("offset") <= LtvMaxOffset)
      .groupBy(col("cohort"), col("offset"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("v"),
        countDistinct(col("user_id")).as("active_users"))
    val sizes = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    cells.join(sizes, Seq("cohort"))
      .withColumn("cum_v", sum(col("v")).over(
        Window.partitionBy(col("cohort")).orderBy(col("offset"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("cohort"), col("offset"), col("cohort_users"),
        col("active_users"),
        (floor(col("cum_v").cast("double") /
          col("cohort_users").cast("double") * 1e4 + 0.5) / 1e4)
          .as("cum_value_per_user"))
      .orderBy(col("cohort"), col("offset"))
  }

  val cohortLtvSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
       |cohorts AS (
       |  SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
       |cells AS (
       |  SELECT c.cohort, date_diff('day', c.cohort, e.day) AS "offset",
       |    sum(CAST(e.value AS DECIMAL(18,6))) AS v,
       |    count(DISTINCT e.user_id) AS active_users
       |  FROM ev e JOIN cohorts c ON c.user_id = e.user_id
       |  WHERE date_diff('day', c.cohort, e.day) <= $LtvMaxOffset
       |  GROUP BY 1, 2),
       |sizes AS (
       |  SELECT cohort, count(*) AS cohort_users FROM cohorts
       |  GROUP BY 1)
       |SELECT l.cohort, l."offset", s.cohort_users, l.active_users,
       |  floor(CAST(sum(l.v) OVER (PARTITION BY l.cohort
       |      ORDER BY l."offset" ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |    / CAST(s.cohort_users AS DOUBLE) * 1e4 + 0.5) / 1e4
       |    AS cum_value_per_user
       |FROM cells l JOIN sizes s ON s.cohort = l.cohort
       |ORDER BY l.cohort, l."offset"""".stripMargin

  // --------------------------------------------------------------- q141
  /** q141: Gini coefficient of user activity — how concentrated the
    * event volume is across users (the inequality number that decides
    * whether per-user caps are needed before training on behavioral
    * data). EXACT from grouped data, no global sort: per-user counts
    * reduce to the (activity level c, m users) histogram — bounded by
    * distinct activity levels — and with ties grouped the rank sum
    * Σ i·x_i telescopes to Σ_levels c·m·(2R+m+1)/2 over cumulative
    * prior users R: pure integer arithmetic until the final ratio
    * G = 2T/(nS) − (n+1)/n, written identically in both engines.
    * Overflow: the rank-sum Σ c·m·(2R+m+1) ≈ 2·S·n exceeds int64 once
    * n_users · n_events > 2^62 (true at 100 TB: n ~ 10^9, S ~ 10^12 →
    * ~2^70). DuckDB's sum(BIGINT) promotes to HUGEINT; Spark's would
    * wrap silently — so the Spark side computes t2 in decimal(38,0)
    * (exact to 10^38 ≈ 2^126): the per-level product can itself pass
    * int64 (c·m ≤ S, 2R+m+1 ≤ 2n+1 → up to ~10^21), so the cast goes
    * on c·m BEFORE the multiply, and the sum inherits the wide type.
    * Identical doubles on both engines out to any realistic corpus. */
  def activityGini(s: SparkSession, d: String): DataFrame = {
    val levels = events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("m"))
    // global window — BOUNDED by √(2·E): its input is one row per
    // DISTINCT per-user event count c. If L levels exist, the L
    // distinct positive counts sum to ≥ L(L+1)/2 ≤ E total events, so
    // L ≤ √(2E): ~1.4M narrow rows at a trillion events (~tens of MB
    // in one sort task), shrinking relative to the corpus as it
    // grows.
    val t = levels
      .withColumn("r", coalesce(sum(col("m")).over(
        Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // 2·Σ i·x_i for the level, kept ×2 so the division by 2 is exact;
      // decimal(38,0) BEFORE the multiply — see overflow note above
      .select(((col("c") * col("m")).cast("decimal(38,0)")
        * (lit(2) * col("r") + col("m") + lit(1))).as("t2"),
        (col("c") * col("m")).as("s"), col("m"))
      .agg(sum(col("t2")).as("t2"), sum(col("s")).as("stot"),
        sum(col("m")).as("n"))
    t.select(col("n").as("n_users"), col("stot").as("n_events"),
      (floor((col("t2").cast("double") /
        (col("n").cast("double") * col("stot").cast("double"))
        - (col("n") + 1).cast("double") / col("n").cast("double"))
        * 1e6 + 0.5) / 1e6).as("gini"))
  }

  val activityGiniSql: String =
    """WITH per AS (
      |  SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |lv AS (SELECT c, count(*) AS m FROM per GROUP BY 1),
      |rk AS (
      |  SELECT c, m,
      |    CAST(coalesce(sum(m) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS r
      |  FROM lv),
      |t AS (
      |  SELECT CAST(sum(c * m * (2 * r + m + 1)) AS BIGINT) AS t2,
      |    CAST(sum(c * m) AS BIGINT) AS stot,
      |    CAST(sum(m) AS BIGINT) AS n
      |  FROM rk)
      |SELECT n AS n_users, stot AS n_events,
      |  floor((CAST(t2 AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(stot AS DOUBLE))
      |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
      |    * 1e6 + 0.5) / 1e6 AS gini
      |FROM t""".stripMargin

  // --------------------------------------------------------------- q142
  /** q142: inter-event burstiness — per event type, the mean/σ of the
    * user-level inter-event gaps (in whole seconds — integer
    * truncation, and small enough that the squared sums stay in
    * int64) and the burstiness index B = (σ−μ)/(σ+μ) ∈ [−1, 1]
    * (−1 periodic, 0 Poisson, →1 bursty) — the traffic-shape number
    * behind rate-limit and capacity choices. The lag window is
    * user+type-keyed (bounded per key); all moments are integer sums;
    * σ uses the one correctly-rounded sqrt. */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tsl"), col("event_id"))
    val gaps = events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsl"), col("event_id"))
      .withColumn("prev", lag(col("tsl"), 1).over(w))
      .filter(col("prev").isNotNull)
      // `div`, not `/`: Spark's `/` on longs promotes to DOUBLE; DuckDB
      // `//` truncates — integer division is exact in both
      .select(col("event_type"),
        expr("(tsl - prev) div 1000000").as("g"))
    val m = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sgg"))
    m.select(col("event_type"), col("n").as("n_gaps"),
        (col("sg").cast("double") / col("n").cast("double")).as("mu"),
        sqrt((col("sgg").cast("double") / col("n").cast("double"))
          - (col("sg").cast("double") / col("n").cast("double"))
          * (col("sg").cast("double") / col("n").cast("double")))
          .as("sigma"))
      .select(col("event_type"), col("n_gaps"),
        (floor(col("mu") * 1e2 + 0.5) / 1e2).as("mean_gap_s"),
        (floor(col("sigma") * 1e2 + 0.5) / 1e2).as("sd_gap_s"),
        (floor((col("sigma") - col("mu")) / (col("sigma") + col("mu"))
          * 1e6 + 0.5) / 1e6).as("burstiness"))
      .orderBy(col("event_type"))
  }

  val burstinessSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tsl, event_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |g AS (
      |  SELECT event_type, CAST((tsl - prev) // 1000000 AS BIGINT) AS g
      |  FROM o WHERE prev IS NOT NULL),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(g) AS BIGINT) AS sg,
      |    CAST(sum(g * g) AS BIGINT) AS sgg
      |  FROM g GROUP BY 1),
      |x AS (
      |  SELECT event_type, n,
      |    CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |    sqrt((CAST(sgg AS DOUBLE) / CAST(n AS DOUBLE))
      |      - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))) AS sigma
      |  FROM m)
      |SELECT event_type, n AS n_gaps,
      |  floor(mu * 1e2 + 0.5) / 1e2 AS mean_gap_s,
      |  floor(sigma * 1e2 + 0.5) / 1e2 AS sd_gap_s,
      |  floor((sigma - mu) / (sigma + mu) * 1e6 + 0.5) / 1e6
      |    AS burstiness
      |FROM x ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_cohort_ltv" -> (cohortLtv _),
    "q141_activity_gini" -> (activityGini _),
    "q142_burstiness" -> (burstiness _),
    "q138_daily_percentiles" -> (dailyPercentiles _),
    "q135_daily_corr" -> (dailyCorrelation _),
    "q136_dow_seasonality" -> (dowSeasonality _),
    "q137_attribution_models" -> (attributionModels _),
    "q133_rfm_segments" -> (rfmSegments _),
    "q134_k_anonymity" -> (kAnonymityAudit _),
    "q131_rank_filter" -> (topOrdersPerPriority _),
    "q128_state_at_purchase" -> (stateAtPurchase _),
    "q129_price_bands" -> (priceBandRevenue _),
    "q130_order_lifecycle" -> (orderLifecycle _),
    "q121_cumulative_users" -> (cumulativeUsers _),
    "q122_multi_funnel" -> (multiStepFunnel _),
    "q123_pivot_roundtrip" -> (pivotRoundtrip _),
    "q126_proportional_quota" -> (proportionalQuota _),
    "q124_segment_whales" -> (segmentWhales _),
    "q125_mad_outliers" -> (madOutliers _),
    "q119_rolling_active" -> (rollingActiveUsers _),
    "q115_transitions" -> (typeTransitions _),
    "q105_attribution" -> (attributionDaily _),
    "q106_cube_revenue" -> (cubeRevenue _),
    "q107_incremental_agg" -> (incrementalAggMerge _),
    "q109_skew_profile" -> (skewProfile _),
    "q112_latest_state" -> (latestState _),
    "q101_scd2_history" -> (scd2History _),
    "q102_gap_fill" -> (gapFillDaily _),
    "q104_zorder" -> (zorderLayout _),
    "q100_daily_anomaly" -> (dailyAnomalies _),
    "q79_cohort_retention" -> (cohortRetention _),
    "q77_stratified_fixed" -> (stratifiedFixedN _),
    "q78_conversion_funnel" -> (conversionFunnel _),
    "q76_outer_join" -> (outerOrderStats _),
    "q73_salted_join" -> (saltedJoinRevenue _),
    "q74_value_histogram" -> (valueHistogram _),
    "q75_column_profile" -> (columnProfile _),
    "q52_pivot_daily" -> (pivotDaily _),
    "q53_setops" -> (setOps _),
    "q54_running_totals" -> (runningTotals _),
    "q56_stats_agg" -> (statsAgg _),
    "q51_hash_sample" -> (hashSample _),
    "q44_json_props" -> (jsonProps _),
    "q46_asof_purchase" -> (asofPurchase _),
    "q47_rollup_revenue" -> (rollupRevenue _),
    "q48_segment_percentiles" -> (segmentPercentiles _),
    "q49_salted_agg" -> (saltedTypeStats _),
    "q01_pricing_summary" -> (pricingSummary _),
    "q02_top_users" -> (topUsers _),
    "q03_category_avg" -> (categoryAvg _),
    "q04_orders_having" -> (ordersHaving _),
    "q05_distinct_users" -> (distinctUsers _),
    "q06_time_slice" -> (timeSliceCounts _),
    "q07_top_words" -> (topWords _),
    "q08_semi_join" -> (semiJoin _),
    "q09_anti_join" -> (antiJoin _),
    "q10_rank_ties" -> (rankTies _),
    "q11_top_revenue" -> (topRevenueOrders _),
    "q12_cooccur_pairs" -> (cooccurPairs _),
    "q13_union_distinct" -> (unionBranches _),
    "q14_first_orders" -> (firstOrdersPerCustomer _),
    "q15_nation_stats" -> (nationStats _),
    "q16_partition_hist" -> (partitionHistogram _))

  private val stopList = StopWords.map(w => s"'$w'").mkString(", ")

  val oracle: Map[String, String] = Map(
    "q140_cohort_ltv" -> cohortLtvSql,
    "q141_activity_gini" -> activityGiniSql,
    "q142_burstiness" -> burstinessSql,
    "q138_daily_percentiles" -> dailyPercentilesSql,
    "q135_daily_corr" -> dailyCorrelationSql,
    "q136_dow_seasonality" -> dowSeasonalitySql,
    "q137_attribution_models" -> attributionModelsSql,
    "q133_rfm_segments" -> rfmSegmentsSql,
    "q134_k_anonymity" -> kAnonymityAuditSql,
    "q131_rank_filter" -> topOrdersPerPrioritySql,
    "q128_state_at_purchase" -> stateAtPurchaseSql,
    "q129_price_bands" -> priceBandRevenueSql,
    "q130_order_lifecycle" -> orderLifecycleSql,
    "q121_cumulative_users" -> cumulativeUsersSql,
    "q122_multi_funnel" -> multiStepFunnelSql,
    "q123_pivot_roundtrip" -> pivotRoundtripSql,
    "q126_proportional_quota" -> proportionalQuotaSql,
    "q124_segment_whales" -> segmentWhalesSql,
    "q125_mad_outliers" -> madOutliersSql,
    "q119_rolling_active" -> rollingActiveUsersSql,
    "q115_transitions" -> typeTransitionsSql,
    "q105_attribution" -> attributionDailySql,
    "q106_cube_revenue" -> cubeRevenueSql,
    "q107_incremental_agg" -> incrementalAggMergeSql,
    "q109_skew_profile" -> skewProfileSql,
    "q112_latest_state" -> latestStateSql,
    "q101_scd2_history" -> scd2HistorySql,
    "q102_gap_fill" -> gapFillDailySql,
    "q104_zorder" -> zorderLayoutSql,
    "q100_daily_anomaly" -> dailyAnomaliesSql,
    "q52_pivot_daily" -> pivotDailySql,
    "q53_setops" -> setOpsSql,
    "q54_running_totals" -> runningTotalsSql,
    "q56_stats_agg" -> statsAggSql,
    "q51_hash_sample" -> hashSampleSql,
    "q73_salted_join" -> saltedJoinRevenueSql,
    "q74_value_histogram" -> valueHistogramSql,
    "q75_column_profile" -> columnProfileSql,
    "q76_outer_join" -> outerOrderStatsSql,
    "q77_stratified_fixed" -> stratifiedFixedNSql,
    "q79_cohort_retention" -> cohortRetentionSql,
    "q78_conversion_funnel" -> conversionFunnelSql,
    "q44_json_props" -> jsonPropsSql,
    "q46_asof_purchase" -> asofPurchaseSql,
    "q47_rollup_revenue" -> rollupRevenueSql,
    "q48_segment_percentiles" -> segmentPercentilesSql,
    "q49_salted_agg" -> saltedTypeStatsSql,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
        |    AS DOUBLE) * 1e2 + 0.5) / 1e2 AS sum_base_price,
        |  floor(sum(l_quantity) / count(*) * 1e4 + 0.5) / 1e4 AS avg_qty,
        |  floor(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS avg_disc,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_users" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |GROUP BY user_id ORDER BY cnt DESC, user_id DESC LIMIT 10""".stripMargin,
    "q03_category_avg" ->
      """SELECT p_type,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
        |    AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS avg_price,
        |  count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type ORDER BY avg_price DESC, p_type ASC""".stripMargin,
    "q04_orders_having" ->
      """SELECT o_custkey, count(*) AS cnt FROM orders
        |GROUP BY o_custkey HAVING count(*) > 12
        |ORDER BY cnt DESC, o_custkey ASC""".stripMargin,
    "q05_distinct_users" ->
      """SELECT count(*) AS total_events,
        |  count(DISTINCT user_id) AS distinct_users FROM events""".stripMargin,
    "q06_time_slice" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE year(ts) = 2024 AND date_part('day', ts) <= 10
        |GROUP BY event_type ORDER BY cnt DESC, event_type ASC""".stripMargin,
    "q07_top_words" ->
      s"""SELECT word, count(*) AS cnt FROM (
         |  SELECT unnest(string_split(translate(lower(text),
         |    '([,.!?:;])', ''), ' ')) AS word FROM documents) t
         |WHERE word <> '' AND word NOT IN ($stopList)
         |GROUP BY word ORDER BY cnt DESC, word DESC LIMIT 20""".stripMargin,
    "q08_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q09_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q10_rank_ties" ->
      """SELECT p_brand, cnt, rnk FROM (
        |  SELECT p_brand, cnt, dense_rank() OVER (ORDER BY cnt DESC) AS rnk
        |  FROM (SELECT p_brand, count(*) AS cnt
        |        FROM lineitem JOIN part ON l_partkey = p_partkey
        |        GROUP BY p_brand) c) r
        |WHERE rnk <= 3 ORDER BY rnk ASC, p_brand ASC""".stripMargin,
    "q11_top_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  floor(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) * 1e2 + 0.5) / 1e2 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, order_date
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q12_cooccur_pairs" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS cnt
        |FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        |GROUP BY brand_a, brand_b
        |ORDER BY cnt DESC, brand_a ASC, brand_b ASC LIMIT 20""".stripMargin,
    "q13_union_distinct" ->
      """SELECT count(*) AS n_custkeys FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0
        |  UNION
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') u""".stripMargin,
    "q14_first_orders" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice AS price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |      FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey ASC, rn ASC""".stripMargin,
    "q15_nation_stats" ->
      """SELECT n_name, min(c_acctbal) AS min_bal,
        |  max(c_acctbal) AS max_bal,
        |  floor(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) * 1e3 + 0.5) / 1e3 AS avg_bal,
        |  count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name ASC""".stripMargin)
}
