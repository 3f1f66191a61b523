package graft

import org.apache.spark.sql.SparkSession

/** The one place that builds a Spark session. Every main and the test
  * session go through it, so a probe, a plan dump, a bench and `sbt
  * test` all plan a query exactly as the oracle gate (graft.Verify)
  * verifies it. */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, or 4 when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The session conf, key for key. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // subset-key co-partitioning (q93/q87 scoring tail): the CF chain's
    // explicit u-exchange serves the (u,j) aggregate, the ownership
    // anti-join AND the top-k window only when the planner may
    // co-partition a join on a PREFIX of its keys; per-u group fan-out
    // is cap-bounded there, so the relaxation is safe at any scale
    // (see Recommend.scoreFromNbr)
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // the correctness gate runs WITH the native-kernel rewrite on:
    // every oracle hash is therefore also a proof that the rule
    // preserves results (it fuses q147's composition to graft_cos and
    // must change nothing anywhere else)
    "spark.graft.autoKernel" -> "true",
    "spark.ui.enabled" -> "false")

  def local(): SparkSession = local(cpus)

  /** A local session on [[conf]]`(cpus)`, plus `extra` keys. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
    (conf(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Unpersist every persisted RDD except the live [[Memo]] ones and
    * `keep`: the iterative operators localCheckpoint per round and
    * nothing unpersists those blocks, so over a long session the block
    * manager fills and later queries degrade 3–8× (q33 measured 40 s
    * polluted vs 6 s clean). Memo blocks stay: localCheckpoint cut
    * their lineage, so an unpersisted one is unrecoverable. BLOCKING:
    * an async unpersist lets the next query start while the blocks
    * still hold storage memory, squeezing its execution share —
    * measured +62 s on q93-after-q92 at 30× (standalone 68.9 s vs
    * 132.8 s in-session). Call it outside any timed window. */
  def dropCheckpoints(spark: SparkSession,
      keep: Set[Int] = Set.empty): Unit = {
    val live = Memo.liveIds(spark) ++ keep
    unpersistQuietly(spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !live(id) }.values)
  }

  /** Unpersists `rdds`, blocking. Spark warns once per local checkpoint
    * it unpersists that its lineage is gone, which is the point of a
    * sweep, so those RDD classes' loggers are raised to ERROR around the
    * unpersist calls only, then each gets its own level back, or loses
    * the logger config it did not have. */
  private[graft] def unpersistQuietly(
      rdds: Iterable[org.apache.spark.rdd.RDD[_]]): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    val loggers = rdds.map(_.getClass.getName).toSet
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val own = ctx.getConfiguration.getLoggers
    val prev = loggers.map(n => n -> Option(own.get(n)).map(_.getLevel))
    loggers.foreach(Configurator.setLevel(_, Level.ERROR))
    try rdds.foreach(_.unpersist(blocking = true))
    finally {
      prev.foreach {
        case (n, Some(l)) => Configurator.setLevel(n, l)
        case (n, None) => ctx.getConfiguration.removeLogger(n)
      }
      ctx.updateLoggers()
    }
  }
}
