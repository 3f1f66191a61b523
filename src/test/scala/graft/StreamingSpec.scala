package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.streaming.Streams

case class TestEv(ts: Timestamp, user_id: Long, event_type: String)
case class TestDoc(doc_id: Long, text: String, ts: Timestamp)
case class ChEv(user_id: Long, ts: Timestamp, event_id: Long,
  event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def mkEvents(n: Int): Seq[TestEv] =
    (0 until n).map { i =>
      TestEv(new Timestamp(1700000000000L + i * 1000L), // 1 event/sec
        user_id = i % 37, event_type = s"t${i % 3}")
    }

  test("socket source drives the sliding window end-to-end (ST1+ST5 off MemoryStream)") {
    import graft.sources.Sources
    // real localhost socket: serve "ts,user_id" lines, read through
    // Sources.socketLines, window through the oracle-verified
    // slidingUserCounts body
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val lines = Seq(
      "2024-01-01 00:00:05,1",
      "2024-01-01 00:00:07,2",
      "2024-01-01 00:00:15,1",
      "2024-01-01 00:00:25,3")
    @volatile var served = false
    val t = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
      served = true
      // hold the connection until the query is done reading
      var open = true
      while (open && !sock.isClosed)
        try Thread.sleep(100)
        catch { case _: InterruptedException => open = false }
    })
    t.setDaemon(true); t.start()
    val parsed = Sources.socketLines(spark, "127.0.0.1", server.getLocalPort)
      .select(
        split(col("value"), ",").getItem(0).cast("timestamp").as("ts"),
        split(col("value"), ",").getItem(1).cast("long").as("user_id"))
    val q = Streams.slidingUserCounts(parsed)
      .writeStream.format("memory").queryName("socket_win")
      .outputMode("complete").start()
    try {
      // poll: socket delivery is asynchronous — wait for all 4 events
      // to land in windows (each event covers 3 sliding windows)
      val deadline = System.currentTimeMillis() + 30000
      def total(): Long =
        spark.table("socket_win").agg(sum(col("n_events"))).collect()(0)
          .getLong(0)
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        ok = served && spark.table("socket_win").count() > 0 &&
          total() == lines.size * 3
        if (!ok) Thread.sleep(200)
      }
      assert(ok, "socket-fed window totals never reached expected count")
      // spot-check one window: [00:00:00, 00:00:30) start 00:00:00
      // covers events at :05, :07, :15, :25 → 4 events, 3 users
      val w0 = spark.table("socket_win")
        .filter(col("window_start") === lit("2024-01-01 00:00:00").cast("timestamp"))
        .collect()
      assert(w0.length == 1 && w0(0).getAs[Long]("n_events") == 4)
    } finally {
      q.stop(); t.interrupt(); server.close()
    }
  }

  test("sliding FM window agg over MemoryStream matches batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TestEv]
    val q = Streams.slidingFmDistinct(mem.toDF())
      .writeStream.format("memory").queryName("fm_win")
      .outputMode("complete").start()
    try {
      val evs = mkEvents(120)
      mem.addData(evs.take(60): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(60): _*)
      q.processAllAvailable()
      val streamed = spark.table("fm_win")
        .select(col("window_start"), col("approx_users"), col("fm_estimate"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = Streams.slidingFmDistinct(evs.toDF())
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        "streaming (2 micro-batches) and batch produce identical windows")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("reservoir keeps everything below capacity, caps at capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ResEvent]
    val q = Streams.reservoirTopTags(mem.toDS())
      .writeStream.format("memory").queryName("res_out")
      .outputMode("append").start()
    try {
      mem.addData((1 to 80).map(i => Streams.ResEvent(i.toLong, s"tag${i % 5}")): _*)
      q.processAllAvailable()
      mem.addData((81 to 300).map(i => Streams.ResEvent(i.toLong, s"tag${i % 5}")): _*)
      q.processAllAvailable()
      val rows = spark.table("res_out")
        .orderBy(col("seq")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.length == 300, "one emission per event")
      rows.foreach { case (seq, n, size) =>
        assert(n == seq)
        if (n <= Streams.ReservoirSize) assert(size == n,
          s"below capacity all retained (n=$n size=$size)")
        else assert(size == Streams.ReservoirSize)
      }
    } finally q.stop()
  }

  test("reservoir top-tags ties: all tags at the top-3 counts emitted") {
    val st = org.apache.spark.sql.streaming.TestGroupState.create[Streams.ResState](
      org.apache.spark.api.java.Optional.empty[Streams.ResState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val evs = Seq("a", "a", "b", "b", "c", "d").zipWithIndex
      .map { case (t, i) => Streams.ResEvent(i + 1L, t) }
    val out = Streams.processReservoir(0, evs.iterator, st).toSeq
    // final emission: counts a=2 b=2 c=1 d=1 → ranks: 2 and 1 → all four
    assert(out.last.topTags == "a:2,b:2,c:1,d:1")
  }

  test("stream-static enrichment joins the dim per micro-batch, keeps misses") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[TestEv]
    val dim = Seq((0L, "gold"), (1L, "silver"))
      .toDF("user_id", "segment")
    val q = Streams.enrichWithDim(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData(mkEvents(4).map(e => e.copy(user_id = e.user_id % 3)))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select(col("user_id"), col("segment")).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set(
        (0L, Some("gold")), (1L, Some("silver")), (2L, None)))
    } finally q.stop()
  }

  test("streaming exact dedup keeps first occurrence across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TestDoc]
    val q = Streams.streamingExactDedup(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      mem.addData(
        TestDoc(1, "alpha beta", new Timestamp(t0)),
        TestDoc(2, "gamma delta", new Timestamp(t0 + 1000)),
        TestDoc(3, "alpha beta", new Timestamp(t0 + 2000))) // dup of 1
      q.processAllAvailable()
      mem.addData(
        TestDoc(4, "gamma delta", new Timestamp(t0 + 3000)), // dup of 2
        TestDoc(5, "epsilon", new Timestamp(t0 + 4000)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L),
        s"dups dropped across micro-batches, got $ids")
    } finally q.stop()
    // batch path: same operator, same keep-one semantics
    val batch = Streams.streamingExactDedup(Seq(
      TestDoc(1, "x y", new Timestamp(0)),
      TestDoc(2, "x y", new Timestamp(1000)),
      TestDoc(3, "z", new Timestamp(2000))).toDF())
    assert(batch.count() == 2)
  }

  test("streaming curation is stateless and matches the batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over a lazy dog while the calm " +
      "river flows past a quiet village and the evening light settles " +
      "softly over the distant hills beyond the old stone bridge"
    val mem = MemoryStream[TestDoc]
    val q = Streams.streamingCuration(mem.toDF())
      .writeStream.format("memory").queryName("curation_out")
      .outputMode("append").start()
    try {
      val t0 = new Timestamp(1700000000000L)
      mem.addData(
        TestDoc(1, good, t0),
        TestDoc(2, "too short", t0),
        TestDoc(3, ("the spam " * 20).trim, t0))
      q.processAllAvailable()
      val got = spark.table("curation_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "ok", 2L -> "too_short", 3L -> "repetitive"))
      // append mode + zero state stores = genuinely stateless plan
      assert(q.lastProgress.stateOperators.isEmpty,
        "curation stream must carry no state operator")
    } finally q.stop()
    // batch parity: identical operator, identical verdicts
    val batch = Streams.streamingCuration(Seq(
      TestDoc(1, good, new Timestamp(0)),
      TestDoc(2, "too short", new Timestamp(0))).toDF())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch == Map(1L -> "ok", 2L -> "too_short"))
  }

  test("streaming near-dup screen flags incoming dups against the static index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over a lazy dog while the calm " +
      "river flows past a quiet village and the evening light settles " +
      "softly over the distant hills beyond the old stone bridge"
    val corpus = Seq(100L -> base,
      101L -> "completely different reference text with nothing shared here at all beyond length")
      .toDF("doc_id", "text")
    val mem = MemoryStream[TestDoc]
    val q = graft.mining.SetSimilarity.screenAgainstIndex(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("screen_out")
      .outputMode("append").start()
    try {
      val t0 = new Timestamp(1700000000000L)
      mem.addData(
        TestDoc(1, base.replace("quick", "swift"), t0), // near-dup of 100
        TestDoc(2, "totally novel incoming content about unrelated things entirely", t0))
      q.processAllAvailable()
      // append-mode dedup state flushes at the watermark; advance it
      mem.addData(TestDoc(3, "more novel filler to advance time",
        new Timestamp(t0.getTime + 7200L * 1000)))
      q.processAllAvailable()
      val got = spark.table("screen_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L)), s"expected only the planted dup, got $got")
    } finally q.stop()
    // batch parity: same operator, same verdicts
    val batch = graft.mining.SetSimilarity.screenAgainstIndex(
      Seq(1L -> base.replace("quick", "swift"), 2L -> "novel stuff")
        .toDF("doc_id", "text"), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(batch.toSeq == Seq(1L -> 100L))
    // broadcast gate: the small index broadcasts by default; forcing
    // the gate to 0 docs keeps the shuffle plan AND the same verdicts
    // (the 100 TB shape, where the index itself is corpus-scale)
    def screen() = graft.mining.SetSimilarity.screenAgainstIndex(
      Seq(1L -> base.replace("quick", "swift"), 2L -> "novel stuff")
        .toDF("doc_id", "text"), corpus)
    assert(screen().queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "small index must broadcast")
    // with the gate at 0 AND auto-broadcast off, no BroadcastHashJoin
    // may remain: any one left could only come from the (now-gated)
    // explicit index hint. (Auto-broadcast must be silenced because
    // the BATCH probe side here is a tiny LocalRelation the planner
    // would legitimately broadcast on its own — a stream probe, the
    // production shape, has no such option.)
    TestUtil.withConf("spark.graft.screenBroadcastDocs" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val gated = screen()
      assert(!gated.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "gate=0 must keep the shuffle join for the band probe")
      assert(gated.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq == Seq(1L -> 100L), "gated plan changed verdicts")
    }
  }

  test("streaming session windows match the batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TestEv]
    val q = Streams.sessionizeStream(mem.toDF(), gap = "30 seconds",
        watermark = "10 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      val t0 = 1700000000000L
      // user 1: two sessions (gap 60s > 30s); user 2: one session
      val evs = Seq(
        TestEv(new Timestamp(t0), 1, "a"),
        TestEv(new Timestamp(t0 + 10000), 1, "a"),
        TestEv(new Timestamp(t0 + 80000), 1, "a"),
        TestEv(new Timestamp(t0 + 5000), 2, "b"))
      mem.addData(evs.take(2): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3))).toSet
      val batch = Streams.sessionizeStream(evs.toDF(), gap = "30 seconds")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3))).toSet
      assert(streamed == batch,
        s"streaming sessions == batch sessions; got $streamed vs $batch")
      assert(streamed.count(_._1 == 1L) == 2, "user 1 has two sessions")
    } finally q.stop()
  }

  test("stream-stream interval join matches batch; horizon excludes late buys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val views = Seq(
      TestEv(new Timestamp(t0), 1, "view"),
      TestEv(new Timestamp(t0), 3, "view"))
    val buys = Seq(
      TestEv(new Timestamp(t0 + 10000), 1, "purchase"),  // within 30s
      TestEv(new Timestamp(t0 + 60000), 1, "purchase"),  // beyond 30s
      TestEv(new Timestamp(t0 + 5000), 2, "purchase"))   // no view
    val vMem = MemoryStream[TestEv]
    val pMem = MemoryStream[TestEv]
    val q = Streams.attributeStream(vMem.toDF(), pMem.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      vMem.addData(views: _*)
      pMem.addData(buys: _*)
      q.processAllAvailable()
      val streamed = spark.table("attr_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
        .toSet
      val batch = Streams.attributeStream(views.toDF(), buys.toDF())
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
        .toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed == Set((1L, new Timestamp(t0),
        new Timestamp(t0 + 10000))))
    } finally q.stop()
  }

  test("streaming session paths match the batch path stage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    val min = 60000L
    // user 1: "view>click" then a 31-min gap → second session "error";
    // user 2: one "signup" session
    val evs = Seq(
      ChEv(1L, new Timestamp(t0), 10L, "view", 0.0),
      ChEv(1L, new Timestamp(t0 + min), 11L, "click", 0.0),
      ChEv(1L, new Timestamp(t0 + 32 * min), 12L, "error", 0.0),
      ChEv(2L, new Timestamp(t0 + min), 13L, "signup", 0.0))
    val mem = MemoryStream[ChEv]
    val q = Streams.sessionPathsStream(mem.toDF(), watermark = "10 seconds")
      .writeStream.format("memory").queryName("paths_out")
      .outputMode("complete").start()
    try {
      mem.addData(evs.take(2): _*); q.processAllAvailable()
      mem.addData(evs.drop(2): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2))).toSet
      val streamed = rows(spark.table("paths_out"))
      val batch = rows(graft.ops.Windows.sessionPathFrame(evs.toDF()))
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.map(_._3) == Set("view>click", "error", "signup"))
    } finally q.stop()
  }

  test("transformWithState latest-state (TTL'd) matches the batch q112") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000L // µs
    val b1 = Seq(
      Streams.ChangeEvent(1L, t0, 10L, "signup", 1.0),
      Streams.ChangeEvent(2L, t0 + 1000L, 11L, "view", 2.0))
    val b2 = Seq(
      Streams.ChangeEvent(1L, t0 + 9000L, 12L, "purchase", 3.0),
      Streams.ChangeEvent(3L, t0 + 2000L, 13L, "error", 4.0))
    val mem = MemoryStream[Streams.ChangeEvent]
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_ckpt").toString
    // AvailableNow, NOT processAllAvailable: under TimeMode.ProcessingTime
    // the query keeps scheduling timer batches, so processAllAvailable
    // never settles; AvailableNow drains pending input and STOPS, and
    // the second start resumes per-key state from the checkpoint —
    // which also exercises exactly the restart path production runs
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long, String, Double)]()
    def drain(): Unit = {
      // foreachBatch, not the memory sink: only foreachBatch supports
      // resuming from the checkpoint, and the restart is the point —
      // per-key RocksDB state must survive it
      val q = Streams.latestStateTtl(mem.toDS(),
          java.time.Duration.ofDays(1))
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[Streams.UserLatestOut],
              _: Long) =>
            df.collect().foreach(o => emitted.add((o.user_id,
              o.last_ts_us, o.last_event_id, o.last_type, o.last_value)))
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    TestUtil.withConf("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")) {
      mem.addData(b1: _*); drain()
      mem.addData(b2: _*); drain()
      // update emissions accumulate: latest per key wins
      val streamed = emitted.toArray(
        Array.empty[(Long, Long, Long, String, Double)])
        .groupBy(_._1).view
        .mapValues(_.maxBy(t => (t._2, t._3))).values.toSet
      val batch = graft.ops.Relational.latestStateOn(
        (b1 ++ b2).map(e => (e.user_id,
          new Timestamp(e.tsl / 1000), e.event_id, e.event_type,
          e.value)).toDF("user_id", "ts", "event_id", "event_type",
          "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4))).toSet
      assert(streamed == batch, s"tws $streamed != batch $batch")
      assert(streamed.exists(r => r._1 == 1L && r._3 == 12L),
        "cross-batch overwrite missing")
    }
  }

  test("streaming latest-state compaction converges to the batch q112") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // (user_id, ts, event_id, event_type, value) changelog; user 1 is
    // overwritten across micro-batches, user 2 within one
    val b1 = Seq(
      ChEv(1L, new Timestamp(t0), 10L, "signup", 1.0),
      ChEv(2L, new Timestamp(t0 + 1000), 11L, "view", 2.0),
      ChEv(2L, new Timestamp(t0 + 5000), 12L, "click", 3.0))
    val b2 = Seq(
      ChEv(1L, new Timestamp(t0 + 9000), 13L, "purchase", 4.0),
      ChEv(3L, new Timestamp(t0 + 2000), 14L, "error", 5.0))
    val mem = MemoryStream[ChEv]
    val q = Streams.latestStateStream(mem.toDF())
      .writeStream.format("memory").queryName("latest_out")
      .outputMode("complete").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4))).toSet
      val streamed = rows(spark.table("latest_out"))
      val batch = rows(graft.ops.Relational.latestStateOn((b1 ++ b2).toDF()))
      assert(streamed == batch, s"stream $streamed != batch $batch")
      // the overwrite actually happened: user 1's state is the b2 event
      assert(streamed.exists(r => r._1 == 1L && r._3 == 13L))
    } finally q.stop()
  }
}
