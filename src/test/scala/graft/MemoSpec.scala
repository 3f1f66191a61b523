package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle + locking invariants of the shared-artifact memo
  * (ADVICE r9): context-restart safety and per-key build locking.
  *
  * The restart case is driven through the injection seam rather than
  * an actual SparkContext stop/start: exactly one context lives per
  * JVM, and stopping the suite's shared session would kill every
  * later suite. The seam registers an entry under a foreign
  * (applicationId, startTime) — indistinguishable from a dead
  * context's leftovers, which is the state a real restart produces.
  */
class MemoSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entries from a dead (restarted) context are evicted and their " +
      "RDD ids never alias into liveIds") {
    import spark.implicits._
    val marker = Seq((1L, "stale")).toDF("id", "tag")
    // a dead context's entry claiming an RDD id the NEW context is
    // about to recycle — the aliasing hazard of the old
    // identityHashCode keying
    val recycledId = 424242
    Memo.injectForTest("app-before-restart", 1L, "d#artifact",
      marker, Set(recycledId))
    assert(Memo.containsForTest("app-before-restart", 1L, "d#artifact"))
    // any lookup against the LIVE context evicts the dead entry...
    val live = Memo.liveIds(spark)
    assert(!live.contains(recycledId),
      "dead context's RDD id leaked into liveIds — a hygiene sweep " +
        "would wrongly keep (or a future entry wrongly claim) id " +
        recycledId)
    assert(!Memo.containsForTest("app-before-restart", 1L, "d#artifact"),
      "dead-context entry survived eviction")
    // ...and a fresh build under the same artifact name serves the NEW
    // context's frame, never the stale one
    val rebuilt = Memo.of(spark, "d", "artifact") {
      Seq((1L, "fresh")).toDF("id", "tag")
    }
    assert(rebuilt.collect().map(_.getString(1)).toSeq == Seq("fresh"))
    Memo.clear(spark)
  }

  test("concurrent requests for the SAME artifact run one build") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val ready = new CountDownLatch(2)
    val results = (1 to 2).map { _ =>
      val t = new Thread(() => {
        Memo.of(spark, "d", "same") {
          builds.incrementAndGet()
          Seq(1L).toDF("id")
        }
        ready.countDown()
      })
      t.start(); t
    }
    assert(ready.await(60, TimeUnit.SECONDS), "builds did not finish")
    results.foreach(_.join())
    assert(builds.get() == 1, s"same artifact built ${builds.get()} times")
    Memo.clear(spark)
  }

  test("builds of DISTINCT artifacts do not serialize behind one lock") {
    import spark.implicits._
    // builder A blocks until builder B has STARTED: under the old
    // global-monitor Memo this deadlocks (B can't start while A holds
    // the monitor) and the await times out
    val bStarted = new CountDownLatch(1)
    val aSawB = new java.util.concurrent.atomic.AtomicBoolean(false)
    val tA = new Thread(() => {
      Memo.of(spark, "d", "art_a") {
        aSawB.set(bStarted.await(30, TimeUnit.SECONDS))
        Seq(1L).toDF("id")
      }
      ()
    })
    val tB = new Thread(() => {
      Memo.of(spark, "d", "art_b") {
        bStarted.countDown()
        Seq(2L).toDF("id")
      }
      ()
    })
    tA.start()
    Thread.sleep(100) // let A enter its build first
    tB.start()
    tA.join(60000); tB.join(60000)
    assert(aSawB.get(),
      "builder B never started while A was building — distinct " +
        "artifacts are serializing behind a shared lock")
    Memo.clear(spark)
  }

  test("scalarOf: same key builds once and caches; distinct keys do " +
      "not serialize behind each other's builds") {
    val builds = new AtomicInteger(0)
    val ready = new CountDownLatch(2)
    (1 to 2).foreach { _ =>
      new Thread(() => {
        Memo.scalarOf(spark, "d", "sc_same") {
          builds.incrementAndGet(); Long.box(7L)
        }
        ready.countDown()
      }).start()
    }
    assert(ready.await(60, TimeUnit.SECONDS), "builds did not finish")
    assert(builds.get() == 1, s"same key built ${builds.get()} times")
    // a re-request returns the cached value, never the new builder
    val v = Memo.scalarOf(spark, "d", "sc_same") {
      builds.incrementAndGet(); Long.box(99L)
    }
    assert(v == 7L && builds.get() == 1, "cached scalar was rebuilt")
    // distinct keys: A's build blocks until B STARTS. The old form ran
    // builds inside ConcurrentHashMap.computeIfAbsent, where this
    // deadlocks whenever the two keys land in one bin (bin-lock held
    // across A's Spark job); per-key lazy cells can never block B.
    val bStarted = new CountDownLatch(1)
    val aSawB = new java.util.concurrent.atomic.AtomicBoolean(false)
    val tA = new Thread(() => {
      Memo.scalarOf(spark, "d", "sc_a") {
        aSawB.set(bStarted.await(30, TimeUnit.SECONDS)); Long.box(1L)
      }
      ()
    })
    val tB = new Thread(() => {
      Memo.scalarOf(spark, "d", "sc_b") {
        bStarted.countDown(); Long.box(2L)
      }
      ()
    })
    tA.start()
    Thread.sleep(100) // let A enter its build first
    tB.start()
    tA.join(60000); tB.join(60000)
    assert(aSawB.get(),
      "scalar builder B never started while A was building — distinct " +
        "keys are serializing behind a shared lock")
    // a FAILED build must not poison the key: the first caller's
    // throwing closure is evicted with its cell, and the next caller's
    // own builder runs (a bare lazy-val cell would retry the ORIGINAL
    // closure forever — a cancelled warmup job would permanently
    // shadow every later caller)
    intercept[RuntimeException] {
      Memo.scalarOf(spark, "d", "sc_fail") {
        throw new RuntimeException("build cancelled")
      }
    }
    val recovered = Memo.scalarOf(spark, "d", "sc_fail")(Long.box(5L))
    assert(recovered == 5L,
      "failed scalar build poisoned the key for later builders")
    Memo.clear(spark)
  }

  test("liveIds covers blocks persisted by an IN-FLIGHT build — a " +
      "concurrent hygiene sweep cannot unpersist a lineage-cut block " +
      "before the entry publishes") {
    import spark.implicits._
    val persisted = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var buildIds: Set[Int] = Set.empty
    val t = new Thread(() => {
      Memo.of(spark, "d", "inflight") {
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        // the builder checkpoints an intermediate (lineage cut HERE,
        // long before Cell.built publishes) — exactly the window the
        // pre-fix liveIds left sweepable
        val df = Seq((1L, "x")).toDF("id", "tag").localCheckpoint()
        buildIds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        persisted.countDown()
        assert(release.await(30, TimeUnit.SECONDS), "never released")
        df
      }
      ()
    })
    t.start()
    try {
      assert(persisted.await(30, TimeUnit.SECONDS), "build never started")
      assert(buildIds.nonEmpty, "builder persisted no block — test inert")
      val live = Memo.liveIds(spark)
      assert(buildIds.subsetOf(live),
        s"in-flight build's blocks $buildIds missing from liveIds $live" +
          " — a hygiene sweep running now would unpersist an " +
          "unrecoverable lineage-cut block")
    } finally {
      release.countDown()
      t.join(60000)
    }
    // after the build completes the entry owns its own checkpoint and
    // releases the builder's to the next sweep
    val live = Memo.liveIds(spark)
    assert(live.nonEmpty && (buildIds & live).isEmpty, s"$buildIds $live")
    Memo.clear(spark)
  }

  test("q87 and q89 leave only the memo entries' own frames persisted: " +
      "one checkpoint each, no build intermediates") {
    Memo.clear(spark)
    Sessions.dropCheckpoints(spark)
    Seq("q87_item_cf", "q89_content_rec")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).count())
    Sessions.dropCheckpoints(spark)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val live = Memo.liveIds(spark)
    // rec_ui, rec_cf, rec_cn: no second copy of the ui matrix, no sims
    // table, no class, feature or df table
    assert(live.size == 3 && persisted == live,
      s"persisted $persisted, memo-owned $live")
    Memo.clear(spark)
  }

  test("buildSeconds reports built artifacts of the live context, " +
      "keyed dir#name") {
    import spark.implicits._
    Memo.of(spark, "/some/dir", "timed_art") { Seq(1L).toDF("id") }
    val secs = Memo.buildSeconds(spark)
    assert(secs.contains("/some/dir#timed_art"), secs.toString)
    assert(secs("/some/dir#timed_art") >= 0.0)
    Memo.clear(spark)
  }
}
