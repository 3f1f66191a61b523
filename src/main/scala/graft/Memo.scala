package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped cache of shared query artifacts, keyed on (context
  * identity, dataset path, artifact name).
  *
  * Why this exists: the recommender family deliberately composes —
  * q92 (hybrid) = q87's CF top-k ⊕ q89's content top-k — so a session
  * that runs all three used to pay the expensive arms twice (q92 alone
  * was 31 s at sf0.1, structurally ~q87+q89 re-run). Production Spark
  * stacks solve this by materializing shared artifacts (a neighbor
  * table is a static index, rebuilt periodically, not per query);
  * this memo is the in-session form of that: the first query to need
  * an artifact builds and localCheckpoints it, later queries get the
  * checkpointed frame back — their plans show one ExistingRDD scan
  * per shared artifact instead of a rebuild.
  *
  * Lifecycle (ADVICE r9): entries are keyed on the owning context's
  * `(applicationId, startTime)` — NOT `identityHashCode`, whose values
  * (and whose persisted-RDD ids) can alias across a stop/restart.
  * Every lookup first drops entries from any other context identity:
  * a restarted context therefore never sees a stale frame, and the
  * dead entries' RDD ids leave [[liveIds]] so they cannot shadow the
  * new context's recycled ids in a hygiene sweep.
  *
  * Concurrency (ADVICE r9): one lazily-built cell per key — builds of
  * the SAME artifact serialize on their cell (concurrent warmup
  * threads get one build, not eight), builds of DISTINCT artifacts
  * proceed in parallel (the old implementation held one global
  * monitor across the whole build).
  *
  * Scale stance: only DIMENSION-sized artifacts belong here (top-k
  * frames, item×M neighbor tables, the capped ui matrix — all bounded
  * by catalog × caps, never raw-corpus-sized), so the executor-local
  * checkpoint storage (MEMORY_AND_DISK) stays bounded at any SF.
  *
  * Correctness: a memo hit returns the SAME logical result as a
  * rebuild (the builder is deterministic), so oracle comparisons are
  * unaffected. localCheckpoint CUTS LINEAGE — an unpersisted memo
  * block is unrecoverable — so session-hygiene sweeps that unpersist
  * stray blocks (Sessions.dropCheckpoints) must exclude [[liveIds]].
  */
object Memo {

  private case class Key(app: String, start: Long, name: String)

  /** Built artifact: the checkpointed frame, the RDD ids behind it
    * (its one localCheckpoint — kept alive by hygiene sweeps), and
    * what the build cost (surfaced by Bench as memo_build_sec). */
  private case class Entry(df: DataFrame, owned: Set[Int],
      buildSec: Double)

  /** Per-key build cell: `lazy val` gives per-CELL locking — same
    * artifact builds once, distinct artifacts don't serialize. The
    * entry owns only its frame's checkpoint. The builder's own
    * checkpoints (the sims table, the class and df tables) are dead
    * once that frame is materialized, so the build releases them:
    * the next hygiene sweep unpersists them, outside any timed window,
    * while a nested entry's frame (rec_ui, built inside rec_cf's
    * build) stays live as its own entry. */
  private final class Cell(s: SparkSession, build: () => DataFrame,
      pre: Option[Entry] = None) {
    /** Completed entry, or null while un-built / building — lets
      * [[liveIds]]/[[buildSeconds]] PEEK without forcing (a hygiene
      * sweep must neither trigger a build nor block behind one). */
    @volatile var built: Entry = pre.orNull
    /** Non-null exactly while a build is in flight: the persisted-RDD
      * snapshot taken at build start (ADVICE r10). A hygiene sweep
      * running concurrently with the build must treat every id
      * persisted SINCE this snapshot as potentially owned — the build
      * localCheckpoints (lineage cut) before `built` publishes, so a
      * sweep that only consulted `built` could unpersist blocks the
      * finished entry can never recompute. Over-retention for the
      * build's duration, never loss. */
    @volatile var inFlightBefore: Set[Int] = null
    lazy val entry: Entry = pre.getOrElse {
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      inFlightBefore = before
      try {
        val t0 = System.nanoTime()
        val df = build().localCheckpoint()
        // a localCheckpoint'd frame is one LogicalRDD over its blocks
        val owned = df.queryExecution.logical
          .collect { case r: LogicalRDD => r.rdd.id }.toSet
        val e = Entry(df, owned, (System.nanoTime() - t0) / 1e9)
        built = e
        e
      } finally inFlightBefore = null
    }
  }

  private val entries = new ConcurrentHashMap[Key, Cell]()

  /** Scalar side-table: deterministic non-frame artifacts (exact
    * cardinality estimates feeding volume gates — a Long per family,
    * never data). Same lifecycle as [[entries]]: keyed on context
    * identity, swept by [[evictDead]]. Why it exists (ADVICE r12 /
    * VERDICT r12 item 3): the LSH family's spill-guard input is one
    * cheap-but-real aggregate job; without a cache every re-execution
    * of q24/q58/q90 in a session re-pays it at DataFrame-construction
    * time — the production analogue is a cached index statistic. */
  private val scalars = new ConcurrentHashMap[Key, ScalarCell]()

  /** Per-key scalar build cell — same discipline as [[Cell]]: the CHM
    * only ever allocates (computeIfAbsent holds the bin lock for a
    * constructor, never a Spark job), the build runs under the cell's
    * own lazy-val lock, so same-key builds serialize and DISTINCT keys
    * that happen to share a bin don't block behind each other's
    * aggregate jobs. The builder reference is RELEASED after a
    * successful build — a lazy val would otherwise pin the first
    * caller's closure (and whatever frames it captured) for the
    * session lifetime. */
  private final class ScalarCell(b: () => AnyRef) {
    @volatile private var build: () => AnyRef = b
    lazy val value: AnyRef = {
      val v = build()
      build = null
      v
    }
    /** True once SOME evaluation of the lazy val completed — the
      * builder reference is released exactly then. Read by the failed
      * caller's eviction path: a waiter's re-evaluation may have
      * succeeded (and re-cached the cell) between the first caller's
      * failure and its remove, and evicting a now-built cell would
      * re-run the whole aggregate job the cache exists to avoid. */
    def built: Boolean = build == null
  }

  private def contextKey(s: SparkSession): (String, Long) =
    (s.sparkContext.applicationId, s.sparkContext.startTime)

  /** Drop every entry owned by a context OTHER than `s`'s (one
    * SparkContext lives per JVM, so any non-matching entry is dead).
    * No unpersist: the dead context's blocks died with it. */
  private def evictDead(s: SparkSession): Unit = {
    val (app, start) = contextKey(s)
    entries.keySet.asScala
      .filter(k => k.app != app || k.start != start)
      .foreach(entries.remove)
    scalars.keySet.asScala
      .filter(k => k.app != app || k.start != start)
      .foreach(scalars.remove)
  }

  /** Get-or-compute a deterministic scalar artifact (e.g. an exact
    * cardinality estimate) for dataset dir `d`. The build may run
    * Spark jobs; same-key builds serialize on their cell (never on
    * the map bin — these are band-table-sized aggregates, but holding
    * a CHM bin lock across any Spark job would stall unrelated keys
    * that hash into the same bin). */
  def scalarOf[T <: AnyRef](s: SparkSession, d: String, name: String)
      (build: => T): T = {
    evictDead(s)
    val (app, start) = contextKey(s)
    val key = Key(app, start, s"$d#$name")
    val cell = scalars.computeIfAbsent(key,
      _ => new ScalarCell(() => build))
    // a FAILED build must not poison the key: the cell is mapped
    // before the build runs, and a lazy val retries the ORIGINAL
    // closure on every later access — so a first caller whose job was
    // cancelled (warmup teardown) would permanently shadow every
    // later caller's builder. Evict the broken cell (only if still
    // this one) and rethrow; the next caller builds fresh.
    try {
      val v = cell.value.asInstanceOf[T]
      // a WAITER can land here on a cell the failed first build just
      // evicted (its lazy-val re-evaluation succeeded after the
      // eviction, ADVICE r13) — re-insert so later callers reuse the
      // now-built value instead of rebuilding; no-op in the normal
      // path (key still maps this cell) and when a re-entrant caller
      // already mapped a fresh cell (both builds are deterministic).
      scalars.putIfAbsent(key, cell)
      v
    }
    catch { case t: Throwable =>
      // skip the eviction when a waiter's re-evaluation already built
      // the cell (it re-cached via the putIfAbsent above — removing it
      // here would undo that recovery and force a rebuild). The
      // residual race (waiter mid-build when this reads `built`) lands
      // on the designed path: the waiter re-inserts on success.
      if (!cell.built) scalars.remove(key, cell)
      throw t
    }
  }

  /** Get-or-build the artifact `name` for dataset dir `d`. */
  def of(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame = {
    evictDead(s)
    val (app, start) = contextKey(s)
    val cell = entries.computeIfAbsent(Key(app, start, s"$d#$name"),
      _ => new Cell(s, () => build))
    cell.entry.df
  }

  /** RDD ids that back live memo entries of `s`'s context — exclude
    * these from any bulk unpersist. Evicts dead-context entries first
    * so a recycled RDD id can never hide behind a stale one. While any
    * build is IN FLIGHT, every id persisted after that build's start
    * snapshot also counts as live (ADVICE r10): the build's
    * localCheckpointed blocks exist before its entry publishes, and
    * unpersisting a lineage-cut block is unrecoverable. */
  def liveIds(s: SparkSession): Set[Int] = {
    evictDead(s)
    val cells = entries.values.asScala.toList
    // Read order matters (ADVICE r11): `inFlightBefore` FIRST, `built`
    // LAST. A build publishes `built = e` and only then nulls
    // `inFlightBefore` (finally), so whichever way the race lands the
    // entry is covered by one of the two reads: inFlightBefore still
    // non-null → the persisted-since-snapshot diff holds its blocks;
    // already null → the publish happened before it, and the later
    // `built` read observes the entry. (The old built-then-inFlight
    // order left a window where a just-published entry appeared in
    // neither set and a concurrent sweep could unpersist lineage-cut
    // blocks.)
    val inFlight = cells.flatMap(c => Option(c.inFlightBefore))
    val inFlightIds =
      if (inFlight.isEmpty) Set.empty[Int]
      else {
        val current = s.sparkContext.getPersistentRDDs.keySet.toSet
        inFlight.map(before => current -- before)
          .foldLeft(Set.empty[Int])(_ ++ _)
      }
    val builtIds = cells.flatMap(c => Option(c.built))
      .flatMap(_.owned).toSet
    builtIds ++ inFlightIds
  }

  /** Seconds each BUILT artifact of `s`'s context cost, keyed
    * "dir#name" — Bench reports these so the shared-artifact build
    * cost is visible next to the warm per-query timings. */
  def buildSeconds(s: SparkSession): Map[String, Double] = {
    evictDead(s)
    entries.asScala.flatMap { case (k, c) =>
      Option(c.built).map(e => k.name -> e.buildSec) }.toMap
  }

  /** Drop every memo entry and unpersist its blocks (test hygiene). */
  def clear(s: SparkSession): Unit = {
    evictDead(s)
    val owned = entries.values.asScala.flatMap(c => Option(c.built))
      .flatMap(_.owned).toSet
    Sessions.unpersistQuietly(s.sparkContext.getPersistentRDDs
      .filter { case (id, _) => owned(id) }.values)
    entries.clear()
    scalars.clear()
  }

  /** TEST SEAM: register a fake entry under an arbitrary context
    * identity, as if a PREVIOUS (now-restarted) context had built it —
    * lets MemoSpec prove the eviction/no-stale-alias invariants
    * without stopping the suite's shared SparkContext (one context
    * lives per JVM; a real stop would kill every later suite). */
  private[graft] def injectForTest(app: String, start: Long,
      name: String, df: DataFrame, owned: Set[Int]): Unit = {
    entries.put(Key(app, start, name),
      new Cell(null, () => df, Some(Entry(df, owned, 0.0))))
  }

  /** TEST SEAM: whether an entry exists for the given identity. */
  private[graft] def containsForTest(app: String, start: Long,
      name: String): Boolean =
    entries.containsKey(Key(app, start, name))
}
