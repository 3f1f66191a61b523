package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors,
  ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one fresh JVM: build the session with
  * graft.Verify's conf, then time serial passes over the workload's
  * queries. The first pass is the cold one: it pays class loading,
  * codegen, JIT and the Memo builds, as a one-off job does, and warms
  * the later passes. `--settle` passes follow, for a workload whose JIT
  * work outlasts the cold pass, then warm passes until they have taken
  * `--seconds` (at least `--min-warm` of them).
  *
  * Each query is timed in two parts: construction, the call
  * `fn(spark, dir)` (operators run jobs there: gate estimates, eager
  * checkpoints, driver collects), and execution, a parquet write that
  * materializes every output column, as graft.Verify's does. Every
  * pass's outputs are kept for the caller to check against the oracle.
  * A query that throws or times out is recorded as failed and gives no
  * timing sample.
  *
  * After its queries, each pass runs each stream shape for a fixed
  * number of micro-batches (see [[StreamShapes]]).
  *
  * With `--trace 1` a [[Trace]] listener records spans and per-stage
  * task metrics, and each pass gets its per-layer metrics.
  *
  * Writes one JSON result (`--result`) and, traced, the spans as JSON
  * lines (`--spans`). The caller (perfbench/run.py) turns them into
  * metrics. */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** The query modules, each with its registered queries; a query's
    * module names its per-layer metrics. */
  val Modules: Seq[(String, Map[String, Query])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries,
    "ops.Text" -> graft.ops.Text.queries,
    "ops.Windows" -> graft.ops.Windows.queries,
    "ops.Pipeline" -> graft.ops.Pipeline.queries,
    "mining.SetSimilarity" -> graft.mining.SetSimilarity.queries,
    "mining.VectorSimilarity" -> graft.mining.VectorSimilarity.queries,
    "mining.Son" -> graft.mining.Son.queries,
    "mining.Recommend" -> graft.mining.Recommend.queries,
    "sketch.Sketches" -> graft.sketch.Sketches.queries,
    "graph.Graphs" -> graft.graph.Graphs.queries,
    "graph.GirvanNewman" -> graft.graph.GirvanNewman.queries,
    "cluster.KMeans" -> graft.cluster.KMeans.queries,
    "cluster.Bfr" -> graft.cluster.Bfr.queries,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.queries)

  /** Module of every registered query. */
  lazy val ModuleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Queries the benchmark's own tests feed the runner: one throws,
    * one returns a result its oracle rejects. */
  val Stubs: Map[String, Query] = Map(
    "stub_throws" -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("stub query throws")),
    "stub_wrong" -> ((s: SparkSession, _: String) =>
      s.range(0L, 3L).toDF("id")))

  /** graft.Verify's session conf, key for key. Verify builds its
    * session inline, so the conf is restated here; every result
    * carries it, so a drifted copy shows next to plans.kernel_nodes. */
  def verifyConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.graft.autoKernel" -> "true",
    "spark.ui.enabled" -> "false")

  final case class QRes(name: String, module: String, buildS: Double,
      execS: Double, err: Option[String])

  /** A query or stream that runs longer has failed. */
  val TimeoutS = 60.0

  private def arg(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    a.get("dump-registry") match {
      case Some(path) => dumpRegistry(path)
      case None => bench(a)
    }
  }

  /** The oracle SQL, self-gating set and module of every registered
    * query, for the caller's correctness check. Fails when [[Modules]]
    * and `SparkEntry.queries` disagree, so the module groups keep
    * covering every registered query. */
  def dumpRegistry(path: String): Unit = {
    val registered = graft.SparkEntry.queries.keySet
    require(ModuleOf.keySet == registered, "modules miss " +
      (registered -- ModuleOf.keySet).mkString(",") + "; unregistered " +
      (ModuleOf.keySet -- registered).mkString(","))
    Files.write(Paths.get(path), Json(Map[String, Any](
      "oracle_sql" -> graft.SparkEntry.oracleSql,
      "self_gating" -> graft.SparkEntry.selfGating.toSeq.sorted,
      "module_of" -> ModuleOf)).getBytes(StandardCharsets.UTF_8))
  }

  def bench(a: Map[String, String]): Unit = {
    val workload = arg(a, "workload")
    val input = arg(a, "input")
    val outDir = arg(a, "out")
    val resultPath = arg(a, "result")
    val seconds = arg(a, "seconds").toDouble
    val settle = arg(a, "settle").toInt
    val minWarm = arg(a, "min-warm").toInt
    val maxPasses = arg(a, "max-passes").toInt
    val traced = arg(a, "trace") == "1"
    val cpus = arg(a, "cpus").toInt
    val names = a.getOrElse("queries", "").split(",").filter(_.nonEmpty)
      .toSeq
    val streams = a.getOrElse("streams", "").split(",")
      .filter(_.nonEmpty).toSeq

    val registry: Map[String, Query] = graft.SparkEntry.queries ++ Stubs
    val moduleOf = ModuleOf ++ Stubs.keys.map(_ -> "stub")
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val conf = verifyConf(cpus)
    val builder = SparkSession.builder()
    conf.foreach { case (k, v) => builder.config(k, v) }
    // placement only: keep Spark's scratch files inside the work dir
    builder.config("spark.local.dir", s"$outDir/spark-local")
    builder.config("spark.sql.warehouse.dir", s"$outDir/warehouse")
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val trace = if (traced) Some(new Trace) else None
    trace.foreach(sc.addSparkListener)
    // graft_* expressions in the executed plans, per pass
    @volatile var curPass = 0
    val kernelNodes = mutable.Map[Int, Long]().withDefaultValue(0L)
    if (traced) spark.listenerManager.register(new QueryExecutionListener {
      object H extends AdaptiveSparkPlanHelper
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val n = H.collectWithSubqueries(qe.executedPlan) { case p =>
          p.expressions.map(_.collect {
            case e if e.prettyName.startsWith("graft_") => 1
          }.size).sum
        }.sum
        kernelNodes.synchronized { kernelNodes(curPass) += n }
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        ()
    })

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuS: Double = osBean.getProcessCpuTime / 1e9

    val daemons = new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "perfbench-query")
        t.setDaemon(true)
        t
      }
    }
    var pool = Executors.newSingleThreadExecutor(daemons)

    /** Drop persisted blocks no Memo entry or stream static side owns
      * (operators' eager checkpoints), between queries and outside the
      * timed window. */
    def hygiene(): Unit = {
      val keep = graft.Memo.liveIds(spark) ++ StreamShapes.keptRdds
      sc.getPersistentRDDs.filter { case (id, _) => !keep(id) }
        .values.foreach(_.unpersist(blocking = false))
    }

    def runQuery(name: String, dir: String, out: String,
        parent: Option[Span], pass: Int): QRes = {
      val module = moduleOf(name)
      val fn = registry(name)
      val qSpan = trace.map(_.open(parent.fold(0L)(_.id), "query", name,
        "query" -> name, "module" -> module, "pass" -> pass))
      val call = new Callable[(Double, Double)] {
        def call(): (Double, Double) = {
          sc.setJobGroup(s"perfbench-$pass-$name", name,
            interruptOnCancel = true)
          val b = trace.map(t => t.open(qSpan.get.id, "build",
            s"$name build", "phase" -> "build"))
          b.foreach(s => sc.setLocalProperty(Trace.SpanProp, s.id.toString))
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          b.foreach(s => trace.get.close(s))
          val e = trace.map(t => t.open(qSpan.get.id, "exec",
            s"$name exec", "phase" -> "exec"))
          e.foreach(s => sc.setLocalProperty(Trace.SpanProp, s.id.toString))
          df.write.mode("overwrite").parquet(out)
          val t2 = System.nanoTime()
          e.foreach(s => trace.get.close(s))
          sc.setLocalProperty(Trace.SpanProp, null)
          sc.clearJobGroup()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
      }
      val f = pool.submit(call)
      val res = try {
        val (b, e) = f.get((TimeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
        QRes(name, module, b, e, None)
      } catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(s"perfbench-$pass-$name")
          f.cancel(true)
          // the stuck thread may never return; later queries get a
          // fresh one
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor(daemons)
          QRes(name, module, 0, 0, Some(s"timeout after $TimeoutS s"))
        case ex: ExecutionException =>
          val c = Option(ex.getCause).getOrElse(ex)
          QRes(name, module, 0, 0,
            Some(s"${c.getClass.getName}: ${c.getMessage}".take(500)))
      }
      qSpan.foreach(s => trace.get.close(s))
      hygiene()
      res
    }

    // ---- timed passes
    val runSpan = trace.map(_.open(0L, "run", workload))
    val passes = mutable.ArrayBuffer[(Map[String, Any],
      Seq[StreamShapes.StreamRun])]()
    // pass 1 is cold, the next `settle` settle, the rest warm
    val lastSettle = 1 + settle
    def kind(p: Int) =
      if (p == 1) "cold" else if (p <= lastSettle) "settle" else "warm"
    var warmT0 = 0L
    var p = 0
    def warmS: Double = (System.nanoTime() - warmT0) / 1e9
    while (p < maxPasses && (p < lastSettle + minWarm || warmS < seconds)) {
      if (p == lastSettle) warmT0 = System.nanoTime()
      p += 1
      curPass = p
      val pSpan = trace.map(t =>
        t.open(runSpan.get.id, "pass", s"pass $p", "pass" -> p))
      val compiles0 = CodegenStats.count
      val cpu0 = cpuS
      val w0 = System.nanoTime()
      val qs = names.map(n =>
        runQuery(n, input, s"$outDir/p$p/$n", pSpan, p))
      val ss =
        if (streams.isEmpty) Nil
        else StreamShapes.run(spark, cpus, input, streams,
          s"$outDir/p$p-streams", batches = 2, TimeoutS, pSpan)
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuUsed = cpuS - cpu0
      pSpan.foreach(s => trace.get.close(s))
      val layers = trace.map { t =>
        org.apache.spark.BusDrain(sc)
        Layers.ofPass(t, pSpan.get, p, cpus,
          CodegenStats.count - compiles0, CodegenStats.meanMs,
          kernelNodes.synchronized(kernelNodes(p)))
      }
      passes += (Map[String, Any](
        "pass" -> p, "kind" -> kind(p), "wall_s" -> wallS,
        "cpu_s" -> cpuUsed,
        "queries" -> qs.map(q => Map[String, Any]("name" -> q.name,
          "module" -> q.module, "build_s" -> q.buildS,
          "exec_s" -> q.execS, "error" -> q.err)),
        "layers" -> layers) -> ss)
    }
    runSpan.foreach(s => trace.get.close(s))
    // stream outputs are checked after the timed passes
    val checked = StreamShapes.check(spark, cpus, input,
      passes.flatMap(_._2).toSeq).iterator

    val memo = graft.Memo.buildSeconds(spark).collect {
      case (k, v) if k.startsWith(s"$input#") =>
        k.stripPrefix(s"$input#") -> v
    }
    val status = try {
      new String(Files.readAllBytes(Paths.get("/proc/self/status")),
        StandardCharsets.UTF_8)
    } catch { case _: Throwable => "" }
    val vmHwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    import scala.jdk.CollectionConverters._
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.map { p =>
      p.getName -> Map[String, Any](
        "peak_used_mb" -> p.getPeakUsage.getUsed / 1048576.0,
        "peak_committed_mb" -> p.getPeakUsage.getCommitted / 1048576.0,
        "after_gc_used_mb" -> Option(p.getCollectionUsage)
          .map(_.getUsed / 1048576.0))
    }.toMap
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(g =>
      g.getName -> Map[String, Any]("count" -> g.getCollectionCount,
        "time_s" -> g.getCollectionTime / 1000.0)).toMap
    val result = Map[String, Any](
      "workload" -> workload,
      "conf" -> conf.toMap,
      "spark_conf_read_back" -> conf.map { case (k, _) =>
        k -> spark.conf.getOption(k).getOrElse(sc.getConf.get(k, ""))
      }.toMap,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_ms" -> jvmStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "passes" -> passes.map { case (m, ss) =>
        m + ("streams" -> ss.map(_ => checked.next().asMap)) },
      "memo_build_s" -> memo,
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "memory_pools" -> pools,
      "gc" -> gcs)
    Files.write(Paths.get(resultPath),
      Json(result).getBytes(StandardCharsets.UTF_8))
    trace.foreach { t =>
      val self = Trace.selfMs(t.all)
      val lines = t.all.map { s =>
        Json(Map[String, Any]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.startMs,
          "dur_ms" -> s.durMs, "self_ms" -> self.getOrElse(s.id, Double.NaN),
          "attrs" -> s.attrs.toMap))
      }
      Files.write(Paths.get(arg(a, "spans")),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    pool.shutdownNow()
    spark.stop()
  }
}

/** Spark's whole-stage codegen compile counter (public Codahale
  * histogram, JVM-wide). The histogram keeps a sample of compile
  * times, so compile seconds are estimated as count × sampled mean. */
object CodegenStats {
  import org.apache.spark.metrics.source.CodegenMetrics
  def count: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def meanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}
