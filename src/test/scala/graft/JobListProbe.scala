package graft

/** Per-query job list of the registry: for each query, the Spark jobs,
  * SQL executions and executed (not skipped) stages of building its
  * frame (`fn(spark, dir)`: gate estimates, eager checkpoints, driver
  * collects, memo builds) and, separately, of writing that frame as
  * parquet.
  *
  * Each query first runs once untimed (a warm-up write), then the memo
  * and every persisted RDD are dropped, so the recorded build is the
  * query's cold build in a warm JVM, independent of the order the
  * queries run in. Counting goes through [[TestUtil.countRuns]].
  *
  * Run: sbt "Test/runMain graft.JobListProbe <sfDir> [id,id,...]"
  * (default: all registered queries, in name order). stdout gets one
  * JSON line per query:
  *   {"id":..,"build_jobs":..,"build_sql":..,"build_stages_run":..,
  *    "write_jobs":..,"write_stages_run":..}
  * stderr gets every job, SQL execution and stage behind the counts,
  * each line starting "JOBLIST <id> build|write". A query that throws
  * is reported as {"id":..,"error":..} and the probe goes on. */
object JobListProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobListProbe <sfDir> [id,id,...]")
    val dir = args(0)
    val only = args.lift(1).map(_.split(",").toSet)
    val ids = SparkEntry.queries.keys.toSeq.sorted
      .filter(id => only.forall(_.contains(id)))
    only.foreach { o =>
      val unknown = o -- ids
      require(unknown.isEmpty, s"unknown query ids: ${unknown.mkString(",")}")
    }
    val spark = Sessions.local()
    val out = java.nio.file.Files.createTempDirectory("joblist").toString
    def reset(): Unit = {
      Memo.clear(spark)
      Sessions.dropCheckpoints(spark)
    }
    def detail(tag: String, lines: Seq[String]*): Unit =
      lines.flatten.foreach(l => System.err.println(s"JOBLIST $tag   $l"))
    try ids.foreach { id =>
      val fn = SparkEntry.queries(id)
      try {
        fn(spark, dir).write.mode("overwrite").parquet(out)
        reset()
        val (df, bJobs, bSql, bStages) = TestUtil.countRuns(spark)(fn(spark, dir))
        val (_, wJobs, _, wStages) = TestUtil.countRuns(spark)(
          df.write.mode("overwrite").parquet(out))
        detail(s"$id build", bJobs, bSql, bStages)
        detail(s"$id write", wJobs, wStages)
        println(s"""{"id":"$id","build_jobs":${bJobs.size},""" +
          s""""build_sql":${bSql.size},"build_stages_run":${bStages.size},""" +
          s""""write_jobs":${wJobs.size},"write_stages_run":${wStages.size}}""")
      } catch { case e: Exception =>
        val msg = String.valueOf(e.getMessage).takeWhile(_ != '\n')
          .replace("\\", "\\\\").replace("\"", "\\\"")
        println(s"""{"id":"$id","error":"$msg"}""")
      } finally reset()
    } finally {
      spark.stop()
      new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()
    }
  }
}
