package perfbench

import scala.collection.mutable

/** Per-layer metrics of one traced pass, named after the repo's
  * modules: per query module its construction and execution seconds,
  * jobs, task CPU and shuffle bytes; Spark engine totals; codegen
  * compiles; graft_* kernel nodes in the executed plans. */
object Layers {
  def ofPass(t: Trace, pass: Span, p: Int, cpus: Int, compiles: Long,
      compileMeanMs: Double, kernelNodes: Long): Map[String, Double] = {
    val spans = t.all.filter(_.pass == p)
    val out = mutable.LinkedHashMap[String, Double]()
    def secs(xs: Seq[Span]): Double = xs.map(_.durMs).sum / 1000.0
    for ((m, _) <- Runner.Modules) {
      val mine = spans.filter(_.str("module") == m)
      val jobs = mine.filter(_.kind == "job")
      val stages = mine.filter(_.kind == "stage")
      out(s"$m.build_s") = secs(mine.filter(_.kind == "build"))
      out(s"$m.exec_s") = secs(mine.filter(_.kind == "exec"))
      out(s"$m.jobs_build") = jobs.count(_.str("phase") == "build")
      out(s"$m.jobs") = jobs.size
      out(s"$m.task_cpu_s") = stages.map(_.num("cpu_s")).sum
      out(s"$m.shuffle_mb") =
        stages.map(_.num("shuffle_write_bytes")).sum / 1048576.0
    }
    val stages = spans.filter(_.kind == "stage")
    val wallS = pass.durMs / 1000.0
    val busy = Trace.covered(
      t.taskIntervals.toArray(Array.empty[(Int, Long, Long)]).toSeq
        .collect { case (`p`, a, b) => (a.toDouble, b.toDouble) },
      pass.startMs, pass.endMs) / 1000.0
    out("spark.stages") = stages.size
    out("spark.tasks") = stages.map(_.num("tasks")).sum
    out("spark.gc_s") = stages.map(_.num("gc_s")).sum
    out("spark.spill_mb") = stages.map(_.num("spill_bytes")).sum / 1048576.0
    out("spark.sched_wait_s") = stages.map(_.num("sched_wait_s")).sum
    out("spark.driver_only_s") = math.max(0.0, wallS - busy)
    out("spark.core_busy_frac") =
      stages.map(_.num("run_s")).sum / math.max(wallS * cpus, 1e-9)
    out("codegen.compiles") = compiles.toDouble
    out("codegen.compile_s") = compiles * compileMeanMs / 1000.0
    out("plans.kernel_nodes") = kernelNodes.toDouble
    out.toMap
  }
}
