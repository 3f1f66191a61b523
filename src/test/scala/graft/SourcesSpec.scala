package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import graft.sources.{Sinks, Sources}

class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    Files.createTempDirectory("graft-sources").toString

  test("json-lines sink/scan roundtrip with declared schema") {
    import spark.implicits._
    val dir = tmp() + "/j"
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    Sinks.jsonLines(df, dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val back = Sources.jsonLines(spark, dir, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "x"), (2L, "y")))
  }

  test("csv header sink/scan roundtrip") {
    import spark.implicits._
    val dir = tmp() + "/c"
    Sinks.csvWithHeader(Seq((1, "a"), (2, "b")).toDF("k", "s"), dir)
    val back = Sources.csvWithHeader(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("1", "a"), ("2", "b")))
  }

  test("numeric csv becomes (vec_id, vd) point frame") {
    val dir = tmp() + "/n"
    import spark.implicits._
    Seq("0,1.5,2.5", "1,3.0,4.0").toDF("value").coalesce(1)
      .write.text(dir)
    val pts = Sources.numericCsv(spark, dir).orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(pts.toSeq == Seq((0L, Seq(1.5, 2.5)), (1L, Seq(3.0, 4.0))))
  }

  test("chunked dir scan tags the source file") {
    val dir = tmp() + "/ch"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir + "/f1.parquet")
    Seq((2L, "b")).toDF("id", "v").write.mode("append")
      .parquet(dir + "/f2.parquet")
    val df = Sources.chunkedDir(spark, dir + "/*")
    assert(df.select(col("_source_file")).distinct().count() >= 2)
  }

  test("streaming foreachBatch csv append sink (K4, ST5)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tmp() + "/scsv"
    val cp = tmp() + "/cp"
    val mem = MemoryStream[TestEv]
    val q = Sinks.streamingCsvAppend(
      Streams.slidingUserCounts(mem.toDF()), dir, cp)
    try {
      mem.addData((0 until 50).map(i => TestEv(
        new java.sql.Timestamp(1700000000000L + i * 1000L), i % 7, "t")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.option("header", true).csv(dir)
    assert(rows.count() > 0)
    assert(rows.columns.toSet ==
      Set("window_start", "n_events", "approx_users"))
  }

  test("partitioned layout prunes partitions at planning time") {
    val dir = tmp() + "/ev_by_type"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    Sources.writePartitioned(ev, dir, "event_type")
    val one = spark.read.parquet(dir)
      .filter(col("event_type") === "purchase")
    val scan = one.queryExecution.executedPlan.toString
    // the predicate must sit INSIDE the PartitionFilters clause —
    // "PartitionFilters: []" plus a data filter elsewhere would mean
    // pruning was lost while a naive contains() check stayed green
    assert("PartitionFilters: \\[[^\\]]*purchase".r
      .findFirstIn(scan).isDefined,
      s"expected the predicate in PartitionFilters:\n$scan")
    val expected = ev.filter(col("event_type") === "purchase").count()
    assert(one.count() == expected)
    // only the one directory's files are listed by the pruned plan
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.contains("event_type=purchase") && dirs.size > 1)
  }

  test("bucketed tables join without any shuffle exchange") {
    val base = tmp()
    val ords = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice"))
    val custs = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    Sources.writeBucketed(ords, "b_orders", s"$base/b_orders",
      "o_custkey", 4)
    Sources.writeBucketed(custs, "b_custs", s"$base/b_custs",
      "o_custkey", 4)
    // force a non-broadcast join so co-location is what's under test
    try TestUtil.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_orders")
        .join(spark.table("b_custs"), "o_custkey")
        .select(col("o_custkey"), col("c_mktsegment"), col("o_totalprice"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucketed join should be exchange-free:\n$physical")
      // same rows as the plain (shuffled) join
      assert(joined.count() == ords.join(custs, "o_custkey").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_custs")
    }
  }

  test("text-lines sink writes pre-formatted rows") {
    val dir = tmp() + "/t"
    import spark.implicits._
    val formatted = Seq(("a", 1), ("b", 2)).toDF("x", "y")
      .select(format_string("('%s'), %d", col("x"), col("y")).as("line"))
    Sinks.textLines(formatted, dir)
    val back = spark.read.text(dir).collect().map(_.getString(0)).toSet
    assert(back == Set("('a'), 1", "('b'), 2"))
  }

  test("reference grouped-itemset format: golden bytes (Assignment2 shape)") {
    import spark.implicits._
    import graft.functions.Formats
    // FIXTURES.md §4 golden SON fixture at support=1: all singletons
    // frequent, plus the u2 pair — grouped one line per size,
    // lexicographic tuples within a line.
    val itemsets = Seq(
      (Seq("100"), 1), (Seq("101"), 1), (Seq("102"), 1),
      (Seq("98"), 1), (Seq("99"), 1),
      (Seq("101", "99"), 2))
      .toDF("itemset", "sz")
    val dir = tmp() + "/itemsets"
    Sinks.textLines(Formats.groupedItemsetLines(itemsets), dir)
    val back = spark.read.text(dir).collect().map(_.getString(0)).toSet
    assert(back == Set(
      "('100'),('101'),('102'),('98'),('99')", // singleton: ('x'), not ('x',)
      "('101', '99')"))
  }

  test("reference pair-value line format: golden bytes (Assignment4 shape)") {
    import spark.implicits._
    import graft.functions.Formats
    val edges = Seq(("u1", "u2", 4.0), ("u1", "u3", 0.5))
      .toDF("a", "b", "v")
    val dir = tmp() + "/pairs"
    Sinks.textLines(edges.select(
      Formats.pairValueLine(col("a"), col("b"), col("v")).as("line")), dir)
    val back = spark.read.text(dir).collect().map(_.getString(0)).toSet
    assert(back == Set("('u1', 'u2'), 4.0", "('u1', 'u3'), 0.5"))
  }

  test("json-lines scan surfaces corrupt records instead of dying") {
    val dir = tmp()
    val f = new java.io.File(dir, "in.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id": 1, "v": "ok"}""")
    w.println("""{"id": 2, "v": """)          // truncated json
    w.println("""{"id": 3, "v": "also ok"}""")
    w.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val df = Sources.jsonLines(spark, f.toString, schema)
    val rows = df.collect()
    assert(rows.length == 3)
    val bad = rows.filter(r =>
      !r.isNullAt(r.fieldIndex("_corrupt_record")))
    assert(bad.length == 1, "exactly the truncated line is quarantined")
    assert(rows.filter(_.isNullAt(2)).map(_.getLong(0)).toSet ==
      Set(1L, 3L))
  }

  test("incremental scan reads each file exactly once across commits") {
    import spark.implicits._
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("inc").toString
    val manifest = dir + "/.manifest" // dot-prefixed: ignored by listing
    Seq(1L, 2L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/batch1")
    // flatten: incremental scan watches one flat dir of files
    val flat = java.nio.file.Files.createTempDirectory("inc_flat").toString
    def drop(src: String, name: String): Unit = {
      val f = new java.io.File(src).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(flat, name))
    }
    drop(dir + "/batch1", "a.parquet")
    val (d1, commit1) = Sources.incrementalScan(spark, flat, manifest)
    assert(d1.count() == 2)
    commit1()
    // nothing new → empty delta
    val (d2, _) = Sources.incrementalScan(spark, flat, manifest)
    assert(d2.count() == 0)
    // a new file arrives → only it is read
    Seq(3L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/batch2")
    drop(dir + "/batch2", "b.parquet")
    val (d3, commit3) = Sources.incrementalScan(spark, flat, manifest)
    assert(d3.collect().map(_.getLong(0)).toSet == Set(3L))
    commit3()
    val (d4, _) = Sources.incrementalScan(spark, flat, manifest)
    assert(d4.count() == 0)
  }

  test("compaction shrinks file count and preserves every row") {
    import spark.implicits._
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    (1L to 100L).toDF("v").repartition(20)
      .write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 10, s"fixture starts fragmented: $before files")
    val n = Sources.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(n == 1L)
    val after = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after == 1, s"one compacted file, got $after")
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
      .toSeq == (1L to 100L))
  }
}
