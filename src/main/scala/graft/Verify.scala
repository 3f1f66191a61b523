package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name filter for fast local
    // iteration (driver always passes exactly two args).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-describing gate metadata (VERDICT r14 item 6): the
    // EXPLICITLY DECLARED self-gating queries (SparkEntry.selfGating —
    // their correctness check runs inside the query, so rows>0 IS the
    // verification) are marked in a sidecar, making a "no_oracle" row
    // distinguishable from a breakage without reading SURVEY §8. The
    // marker comes from the allowlist, NOT from oracle absence: an
    // oracle-less query that nobody declared stays unmarked, and the
    // local gate (tools/check_oracle.py) FAILS it — the guard a
    // derived marker would have made dead.
    val undeclared = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- SparkEntry.selfGating
    if (undeclared.nonEmpty) System.err.println(
      s"[verify] ERROR: ${undeclared.mkString(", ")} registered " +
        "without an oracle and not declared self-gating — add an " +
        "oracle or (with an in-query correctness check) add it to " +
        "SparkEntry.selfGating")
    val modes = SparkEntry.selfGating
      .filter(SparkEntry.queries.contains)
      .map(k => s"${q(k)}: ${q("self_gating")}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/query_modes.json"), modes)
    spark.stop()
    // non-zero exit AFTER all artifacts are written (ADVICE r15: a
    // stderr line alone can be lost in a log tail, and a clean rc=0
    // plus a complete out_dir left enforcement entirely to the
    // downstream check_oracle.py/CountsSpec runs actually happening)
    if (undeclared.nonEmpty) sys.exit(1)
  }
}
