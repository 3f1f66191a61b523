package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.mining.Recommend

/** The graft.StreamBench shape the benchmark drives, fed from Spark's
  * `rate-micro-batch` source: a fixed number of rows per
  * micro-batch, one partition per core, each batch queued as soon as
  * the last one commits (so the offered rate is above capacity).
  * Every input column derives from the source's `value`, so batch `b`
  * is exactly the rows `value ∈ [b·R, (b+1)·R)`.
  *
  * The sink is `foreachBatch` with an order-independent digest of the
  * batch's output rows. After a stream stops, each counted batch is
  * recomputed as a batch frame through the same shape, and its digest
  * must match: the shape is stateless, so it emits per batch exactly
  * what its batch twin emits. */
object StreamShapes {
  /** Rows per micro-batch: a batch takes a few hundred ms on 4 cores. */
  val RowsPerBatch: Map[String, Long] = Map("ingest_recs" -> 20000L)

  private val Users = 5000L

  /** Static sides, built once per input dir and run. */
  private val statics = mutable.Map[(String, String), DataFrame]()
  /** Ids of the persisted RDDs behind the static sides, which the runner
    * keeps when it drops other blocks between queries. */
  val keptRdds: mutable.Set[Int] = mutable.Set[Int]()

  private def static(spark: SparkSession, dir: String, k: String)(
      build: => DataFrame): DataFrame =
    statics.getOrElseUpdate((dir, k), {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val df = build
      keptRdds ++= spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      df
    })

  private val synthTs =
    timestamp_micros(lit(1704067200000000L) + col("value") * 1000000L)

  /** The shape `name` over `src`, a frame with a long `value` column
    * (a stream or its batch twin). */
  def shape(spark: SparkSession, dir: String, name: String,
      src: DataFrame): DataFrame = name match {
    case "ingest_recs" =>
      val nbr = static(spark, dir, "nbr") {
        val ui = graft.Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("i"))
          .join(graft.Tables.orders(spark, dir)
            .select(col("o_orderkey").as("ok"), col("o_custkey").as("u")),
            "ok")
          .select("u", "i").distinct().localCheckpoint()
        Recommend.neighborTable(ui, Recommend.CoMinUsers,
          Recommend.NeighborTopM).localCheckpoint()
      }
      val items = static(spark, dir, "items") {
        graft.Tables.part(spark, dir).select("p_partkey").localCheckpoint()
      }
      val nItems = items.count()
      Recommend.recsForInteractions(
        src.select(pmod(col("value"), lit(Users)).as("u"),
          pmod(col("value") * 31L, lit(nItems)).as("i"),
          synthTs.as("ts")),
        broadcast(nbr))
  }

  /** (rows, bit-xor of row hashes, sum of row hashes mod a prime):
    * equal for equal multisets of rows, whatever their order. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r: Row = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(1000003L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** One stream run: its progress statistics, the digest of each
    * counted batch's output, and why it failed, if it did. */
  final case class StreamRun(name: String, stats: Map[String, Any],
      digests: Map[Long, (Long, Long, Long)], err: Option[String]) {
    def asMap: Map[String, Any] =
      stats ++ Map("name" -> name, "error" -> err)
  }

  /** Run each named shape for batch 0 (start-up, not counted) plus
    * `batches` counted micro-batches. */
  def run(spark: SparkSession, cpus: Int, dir: String, names: Seq[String],
      ckptRoot: String, batches: Int, timeoutS: Double,
      parent: Option[Span]): Seq[StreamRun] = names.map { name =>
    val rows = RowsPerBatch(name)
    val digests = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Long, Long)]()
    val t0 = System.nanoTime()
    try {
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows).option("numPartitions", cpus)
        .load().select("value")
      parent.foreach(p =>
        spark.sparkContext.setLocalProperty(Trace.SpanProp, p.id.toString))
      val q = shape(spark, dir, name, src).writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$ckptRoot/$name")
        .foreachBatch { (df: DataFrame, id: Long) =>
          digests.put(id, digest(df)); ()
        }
        .start()
      spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
      def done = Option(q.lastProgress).exists(_.batchId >= batches)
      while (!done && q.isActive &&
          (System.nanoTime() - t0) / 1e9 < timeoutS) Thread.sleep(10)
      val finished = done
      q.stop()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      if (!finished) throw new IllegalStateException(
        s"$name committed fewer than ${batches + 1} batches in $timeoutS s")
      val progs = q.recentProgress.toSeq
        .filter(p => p.batchId >= 1 && p.batchId <= batches)
      def ms(k: String) = progs.map(p =>
        Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue))
      val inRows = progs.map(_.numInputRows).sum
      val trigMs = ms("triggerExecution").sum
      if (progs.size != batches || inRows != rows * batches)
        throw new IllegalStateException(s"$name counted ${progs.size} " +
          s"batches / $inRows rows, expected $batches / ${rows * batches}")
      StreamRun(name, Map[String, Any](
        "batches" -> progs.size, "rows" -> inRows,
        "trigger_s" -> trigMs / 1000.0,
        "rows_per_s" -> inRows * 1000.0 / math.max(trigMs, 1e-9),
        "add_batch_ms_p50" -> p50(ms("addBatch")),
        "planning_ms_p50" -> p50(ms("queryPlanning")),
        "wal_commit_ms_p50" -> p50(ms("walCommit")),
        "wall_s" -> (System.nanoTime() - t0) / 1e9),
        (1L to batches.toLong).map(b => b -> digests.get(b)).toMap, None)
    } catch {
      case e: Throwable =>
        spark.streams.active.foreach(_.stop())
        StreamRun(name, Map("wall_s" -> (System.nanoTime() - t0) / 1e9),
          Map.empty, Some(s"${e.getClass.getName}: ${e.getMessage}"
            .take(500)))
    }
  }

  /** `runs`, each with its error set when a counted batch's output
    * differs from its batch twin: the same rows as a batch frame through
    * the same shape. Batch `b` holds the same rows in every pass, so
    * each twin is computed once. */
  def check(spark: SparkSession, cpus: Int, dir: String,
      runs: Seq[StreamRun]): Seq[StreamRun] = {
    val twins = mutable.Map[(String, Long), (Long, Long, Long)]()
    runs.map { r =>
      try {
        val bad = if (r.err.nonEmpty) Nil else r.digests.toSeq.sortBy(_._1)
          .collect { case (b, d) if !twins.getOrElseUpdate((r.name, b), {
            val rows = RowsPerBatch(r.name)
            digest(shape(spark, dir, r.name,
              spark.range(b * rows, (b + 1) * rows, 1, cpus).toDF("value")))
          }).equals(d) => b }
        if (bad.isEmpty) r else r.copy(err = Some(
          s"output of batches ${bad.mkString(",")} differs from batch twin"))
      } catch {
        case e: Exception => r.copy(err = Some(
          s"batch twin: ${e.getClass.getName}: ${e.getMessage}".take(500)))
      }
    }
  }
}
