package graft
object Bench {
  /** Rows for the calibration probe (one partition per core) — sized
    * so the probe runs ~2 s at local[32] (measured 0.9 s/4G hashes on
    * a quiet window once the probe actually computed — see calProbe):
    * long enough to average over scheduler jitter, short enough that
    * two probes cost <1% of the bench budget. */
  private val CalibrationRows = 8000000000L

  /** Previous round's headline total from a `bench_queries.json` body,
    * or None when it can't serve as a baseline: different SF (a local
    * sf0.01 iteration file must not masquerade as the round baseline),
    * a BENCH_ONLY subset artifact (same masquerade at the round SF),
    * a non-positive/absent total, or malformed content. The value
    * match is anchored on the headline `"metric":"total","value":`
    * prefix so a per-query number can never be mistaken for the
    * total. Unit-tested (CountsSpec) — this string surgery is the one
    * piece of the round-over-round gate that regexes could silently
    * get wrong. */
  private[graft] def parsePrevTotal(
      txt: String, sfDir: String): Option[Double] = {
    // whitespace-tolerant after separators: this program emits compact
    // JSON, but the driver's round artifacts (BENCH_rNN.json, the
    // fallback baseline) re-serialize the same object with ": " spacing
    val sfOk = "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
      .exists(_.group(1) == sfDir)
    // a BENCH_ONLY subset artifact covers a handful of queries — its
    // total must never become a full run's baseline
    if (!sfOk || "\"bench_only\":\\s*true".r.findFirstIn(txt).isDefined)
      None
    else "\"metric\":\\s*\"total\",\\s*\"value\":\\s*([0-9.]+)".r
      .findFirstMatchIn(txt)
      .map(_.group(1).toDouble).filter(_ > 0)
  }

  /** Attribution evidence for a ≥10% total move (VERDICT r14 item 1:
    * the gate only LABELED — r14's own flag fired and the headline
    * −13.5% shipped with no same-host A/B). Looks for a
    * `bisect_bench_*.out` artifact in any round directory under
    * `diag/` (the output of
    * tools/bisect_bench.sh, the tool built for exactly this).
    * Qualification is by CONTENT first (ADVICE r15: git checkouts do
    * not preserve mtimes, so a timestamp qualifier is not
    * reproducible across machines): a bisect whose summary names the
    * binary it ran as `cur <selfSha>` attributes THIS code whatever
    * its file time says. A bisect naming a DIFFERENT cur sha can
    * still qualify one way — when its `prev` side names the ROUND
    * BASELINE's sha (`baselineSha`, parsed from the BENCH_r(N-1)
    * artifact the delta is computed against): committing the bisect
    * output necessarily moves HEAD past the cur sha it recorded
    * (r16 hit exactly this — the receipt existed and the artifact
    * still stamped MISSING), and no OTHER round's bisect can name
    * this round's baseline as its prev binary, so the prev match is
    * content evidence about the very comparison the gate is flagging
    * (ADVICE r15's "or an ancestor check", done without walking git
    * history). A parseable-cur bisect matching NEITHER sha is another
    * comparison's evidence — mtime cannot rehabilitate it. Files
    * without a parseable cur sha (and every file when our own sha is
    * unresolvable) fall back to the mtime rule: STRICTLY NEWER than
    * the newest driver round artifact `BENCH_rNN.json` — an old
    * round's bisect cannot attribute a new round's move.
    * Returns the best qualifying path (repo-relative; cur-sha-matched
    * beats prev-sha-matched beats mtime-matched, newest within each
    * tier), or "MISSING": the stamp rides in the artifact next to
    * `total_moved_ge_10pct`, so an unattributed double-digit move is
    * visible on the artifact's face instead of depending on a reader
    * to notice the absence; `attribution_compared` always states
    * which binaries the stamped bisect actually ran.
    * Unit-tested (CountsSpec) like [[parsePrevTotal]]. */
  private[graft] def attributionFor(root: java.nio.file.Path,
      selfSha: String = GitStamp.sha,
      baselineSha: Option[String] = None): String = {
    import scala.jdk.CollectionConverters._
    def mtime(p: java.nio.file.Path): Long =
      try java.nio.file.Files.getLastModifiedTime(p).toMillis
      catch { case _: Throwable => 0L }
    def list(dir: java.nio.file.Path, glob: String) =
      try {
        val s = java.nio.file.Files.newDirectoryStream(dir, glob)
        try s.iterator.asScala.toList finally s.close()
      } catch { case _: Throwable => Nil }
    def shaOf(p: java.nio.file.Path, side: String): Option[String] =
      try s"\\[bisect\\] $side\\s+(\\w+): runs".r
        .findFirstMatchIn(new String(
          java.nio.file.Files.readAllBytes(p), "UTF-8")).map(_.group(1))
      catch { case _: Throwable => None }
    val cutoff = list(root, "BENCH_r*.json").map(mtime)
      .foldLeft(0L)(math.max)
    list(root.resolve("diag"), "*")
      .filter(java.nio.file.Files.isDirectory(_))
      .flatMap(d => list(d, "bisect_bench_*.out"))
      .flatMap { p =>
        shaOf(p, "cur") match {
          case Some(s) if selfSha != "unknown" =>
            // content decides: a matching cur sha attributes; a
            // mismatching one attributes only when its prev side IS
            // this round's baseline binary (the committed-receipt
            // case); matching neither is another comparison's
            // evidence — mtime cannot rehabilitate it
            if (s == selfSha) Some((p, 2))
            else if (baselineSha.isDefined &&
              shaOf(p, "prev") == baselineSha) Some((p, 1))
            else None
          case _ => if (mtime(p) > cutoff) Some((p, 0)) else None
        }
      }
      .sortBy { case (p, tier) => (tier, mtime(p), p.toString) }
      .lastOption
      .map { case (p, _) => root.relativize(p).toString }
      .getOrElse("MISSING")
  }

  // ms precision — sub-ms digits are noise and the per-query map must
  // fit the caller's 2000-char output-tail window (round 5's 9-dp
  // line overflowed it and the driver recorded parsed: null).
  // Locale.ROOT: the f-interpolator honors the JVM default locale and
  // a comma-decimal locale would emit invalid JSON (ADVICE r6).
  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The driver's stdout capture keeps only the LAST ~2000 chars of
    * the run (measured: every BENCH_rNN.json tail is exactly 2000),
    * and it parses the last complete JSON line inside that window —
    * round 5's full line overflowed it (front-clipped, parsed: null)
    * and rounds 6–16 parsed the compact duplicate whose map was `{}`,
    * so the driver had NO per-query ground truth for 11 rounds
    * (VERDICT r16 item 1). The full 148-query map is ~3.7 KB and can
    * NEVER fit; this cap sizes the final line so that line + the
    * trailing sbt `[success] …` line (~75 chars) stay inside the
    * window. */
  private[graft] val MaxFinalLineChars = 1880

  /** Greedy per-query map that fits `budget` chars: entries sorted by
    * (sec desc, name asc) — the expensive queries are the per-query
    * signal an optimization round needs — and any entry that still
    * fits is kept (a long-named heavy query must not starve the short
    * cheap ones behind it). Returns (mapJson, omittedCount).
    * Deterministic for a given (entries, budget), so the driver's
    * 32- and 8-cpu runs intersect on every query whose cost keeps it
    * in both lines. Unit-tested (CountsSpec). */
  private[graft] def fitQueries(entries: Seq[(String, Double)],
      budget: Int): (String, Int) = {
    val sorted = entries.sortBy { case (n, s) => (-s, n) }
    val sb = new StringBuilder("{")
    var included = 0
    sorted.foreach { case (n, s) =>
      val e = "\"" + n + "\":" + r3(s)
      val extra = e.length + (if (included > 0) 1 else 0)
      if (sb.length + extra + 1 <= budget) { // +1: closing brace
        if (included > 0) sb += ','
        sb ++= e
        included += 1
      }
    }
    sb += '}'
    (sb.toString, sorted.length - included)
  }

  /** Times one run of a query into `samples`, or records the query in
    * `failed` when the run throws: a failed run yields no sample, so it
    * can never enter the min as a fast one. */
  private[graft] def sample(name: String, run: => Any,
      samples: scala.collection.mutable.Map[String, List[Double]],
      failed: scala.collection.mutable.Set[String]): Option[Double] = {
    val t = System.nanoTime()
    try {
      run
      val sec = (System.nanoTime() - t) / 1e9
      samples(name) = sec :: samples.getOrElse(name, Nil)
      Some(sec)
    } catch { case _: Throwable => failed += name; None }
  }

  /** `"failed_queries":[…],` for the result lines, names sorted. */
  private[graft] def failedQueriesField(failed: Iterable[String]): String =
    failed.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("\"failed_queries\":[", ",", "],")

  /** `calibration_sec` headline of a previous bench artifact (this
    * program's own compact line, or the driver's re-serialized round
    * wrap — both spacings), or None when absent (pre-r16 artifacts)
    * or non-positive (a failed probe must never become a normalizing
    * denominator). */
  private[graft] def parseCalibration(txt: String): Option[Double] =
    "\"calibration_sec\":\\s*([0-9.]+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble).filter(_ > 0)

  /** Newest usable PRIOR-ROUND baseline (VERDICT r15 item 1): walks
    * `BENCH_rNN.json` numeric-descending and takes the first whose
    * body [[parsePrevTotal]] accepts AND that was not generated from
    * this same commit — in a fresh tree the newest round artifact can
    * wrap this very HEAD's numbers, and comparing to it is a
    * self-comparison that trivially passes. Returns
    * (total, calibration if stamped, filename, generating sha if
    * stamped — the prev-side key for [[attributionFor]]'s
    * committed-receipt tier — and `host_cpus` if stamped). */
  private[graft] def roundBaseline(root: java.nio.file.Path,
      sfDir: String, selfSha: String)
  : Option[(Double, Option[Double], String, Option[String], Option[Int])] = {
    import scala.jdk.CollectionConverters._
    val roundNum = "BENCH_r(\\d+)\\.json".r
    val rounds = try {
      val stream = java.nio.file.Files.list(root)
      // numeric sort: lexicographic misorders across digit-width
      // changes (r100 would sort between r10 and r11)
      try stream.iterator.asScala.flatMap { p =>
        p.getFileName.toString match {
          case roundNum(n) => Some((n.toInt, p))
          case _ => None
        }
      }.toList.sortBy(-_._1).map(_._2)
      finally stream.close()
    } catch { case _: Throwable => Nil }
    rounds.view.flatMap { p =>
      try {
        val txt =
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val sha = "\"sha\":\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(txt).map(_.group(1))
        if (selfSha != "unknown" && sha.contains(selfSha)) {
          System.err.println(s"[bench] round baseline " +
            s"${p.getFileName} was generated from this same commit " +
            s"($selfSha) — refused as a self-comparison; trying " +
            "older rounds")
          None
        } else parsePrevTotal(txt, sfDir)
          .map((_, parseCalibration(txt), p.getFileName.toString, sha,
            "\"host_cpus\":\\s*(\\d+)".r.findFirstMatchIn(txt)
              .map(_.group(1).toInt)))
      } catch { case _: Throwable => None }
    }.headOption
  }

  /** Round-over-round delta fields (VERDICT r15 item 1): emitted
    * UNCONDITIONALLY against the newest usable `BENCH_r(N-1).json`,
    * independent of the local-iteration delta — r15's final bench run
    * re-based its only delta to the round's own earlier
    * bench_queries.json, so the +11.9% round move shipped unflagged.
    * The ≥10% gate and the attribution stamp ride THIS comparison
    * (the one a round reader opens first); the local delta stays a
    * separate, informational field. When both rounds carry a
    * calibration probe, the fragment also carries the probe's own
    * delta (pure host term) and the calibration-NORMALIZED total
    * delta — dividing each side's total by its round's probe seconds
    * cancels the host term, so a raw move that normalizes to quiet
    * labels itself host drift instead of costing an interleaved
    * binary A/B (the StreamBench r14 trick, ported per VERDICT r15
    * item 2). A baseline from a host with a different (or unstamped)
    * core count is labelled `cross_host`: calibration scales with
    * cores and the queries do not, so no normalization bridges it.
    * Returns a fragment with a leading comma, or "" when no usable
    * prior round exists. Unit-tested (CountsSpec). */
  private[graft] def roundDeltaFields(root: java.nio.file.Path,
      sfDir: String, total: Double, cal: Option[Double],
      selfSha: String, hostCpus: Int = HostLoad.cpus): String =
    roundBaseline(root, sfDir, selfSha)
      .map { case (pt, pCal, src, baseSha, baseCpus) =>
      val pct = (total - pt) / pt * 100.0
      val moved = math.abs(pct) >= 10.0
      val crossHost = if (baseCpus.contains(hostCpus)) "" else {
        val n = baseCpus.fold("null")(_.toString)
        System.err.println(s"[bench] CROSS-HOST comparison: baseline " +
          s"$src has host_cpus $n, this host has $hostCpus — the round " +
          "delta compares hosts, not binaries")
        s""","baseline_host_cpus":$n,"cross_host":true"""
      }
      val calFields = (for (c <- cal; p <- pCal) yield {
        val calPct = (c - p) / p * 100.0
        val norm = ((total / c) - (pt / p)) / (pt / p) * 100.0
        System.err.println(
          f"[bench] calibration probe Δ vs $src: $calPct%+.1f%% " +
            f"(pure host term); total normalized: $norm%+.1f%% " +
            f"(raw $pct%+.1f%%)")
        s""","calibration_delta_pct":${r3(calPct)}""" +
          s""","delta_vs_prev_round_norm_pct":${r3(norm)}"""
      }).getOrElse("")
      if (moved) System.err.println(
        f"[bench] TOTAL MOVED $pct%+.1f%% round-over-round " +
          f"($pt%.1f s -> $total%.1f s, baseline $src) — attribute " +
          "before shipping (calibration_delta_pct / the host_load " +
          "columns are the first read; a quiet probe and load earn " +
          "tools/bisect_bench.sh)")
      // the flag carries its own evidence pointer (VERDICT r14
      // item 1): a qualifying diag/*/bisect_bench_*.out, or
      // "MISSING" — stamped, not refused, so the driver's artifact
      // capture never loses the round's numbers, but an unattributed
      // move is condemned on the artifact's face
      val attribution = if (!moved) "" else {
        val a = attributionFor(root, selfSha, baseSha)
        if (a == "MISSING") System.err.println(
          "[bench] ATTRIBUTION MISSING: the >=10% gate fired and no " +
            "qualifying diag/*/bisect_bench_*.out exists — run " +
            "tools/bisect_bench.sh <prev-round-commit> and commit " +
            "its output before shipping this number")
        // recency/sha is the qualifier but CONTENT is the receipt:
        // state which binaries the stamped bisect actually compared,
        // so a stale same-round bisect paired with a different move
        // is visible to the reader instead of laundered
        val compared = if (a == "MISSING") "" else {
          try {
            val txt = new String(java.nio.file.Files.readAllBytes(
              root.resolve(a)), "UTF-8")
            val m = "\\[bisect\\] prev (\\w+): runs".r
              .findFirstMatchIn(txt).map(_.group(1))
            val c = "\\[bisect\\] cur\\s+(\\w+): runs".r
              .findFirstMatchIn(txt).map(_.group(1))
            (for (p <- m; q <- c) yield
              s""","attribution_compared":"prev $p vs cur $q"""")
              .getOrElse("")
          } catch { case _: Throwable => "" }
        }
        s""","total_moved_ge_10pct":true,"attribution":"$a"$compared"""
      }
      s""","prev_round_total_sec":${r3(pt)}""" +
        s""","delta_vs_prev_round_pct":${r3(pct)}""" +
        s""","prev_round_source":"$src"""" + crossHost + calFields +
        attribution
    }.getOrElse {
      System.err.println(
        "[bench] no usable prior-round artifact (BENCH_r*.json " +
          "absent/refused/different-sf) — round delta omitted")
      ""
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Optional subset (comma-separated query names): a targeted A/B of
    // a few queries warms up and times only those; a round run leaves
    // it unset and benches everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Untimed warmup at the smallest SF: compiles each query's codegen
    // (same generated classes — plans differ only in file paths) and JITs
    // the hot paths, so the timed pass measures steady-state engine
    // throughput rather than one-time Janino/JIT costs. Cold-start totals
    // are reported alongside for transparency.
    val warmDir = "/root/testdata/sf0.001"
    // host-load bracket (VERDICT r13 item 5): sampled before warmup
    // and after the last timed pass, written into the artifact so a
    // moved total carries its own host-contention evidence
    val hostLoadBefore = HostLoad.loadavg()
    // Global budget: a full pass is mandatory (every query gets a
    // number); extra passes only run while inside the budget, so a
    // noise-stretched bench degrades to fewer samples instead of
    // overrunning the caller's timeout (round 2 recorded rc=124 — a
    // killed bench reports nothing at all). Declared ahead of warmup:
    // the warmup cap is budget-derived.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "420").toDouble
    val t0 = System.nanoTime()
    // Warmup runs concurrently: per-plan first-run cost is dominated by
    // driver-side compile/JIT, so overlapping them collapses wall time
    // (Spark's scheduler interleaves the tiny sf0.001 jobs fine).
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      // Bounded pool: 8-way overlap hides per-plan compile latency
      // without thrashing the scheduler (42-way made every job queue
      // behind every other and warmup wall time ballooned).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      val fs = names.map { case (name, fn) =>
        Future {
          val t = System.nanoTime()
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
          System.err.println(
            f"[bench] warmup $name: ${(System.nanoTime() - t) / 1e9}%.1f s")
        }
      }
      // a warmup overrun must not kill the bench — timed runs still
      // produce the JSON line (first runs just pay the residual JIT).
      // The cap is a THIRD of the run budget, not a courtesy 10 min:
      // warmup shares the budget clock with the timed passes, and on a
      // slow host window the r16 baseline spent 179 of 420 s warming
      // up, leaving ONE timed pass — 142/148 queries unreproducible
      // (samples_max 2, min-of-1 noise shipped as the round number).
      // Capped, the worst case trades residual JIT in pass 1 — which
      // min-of-2+ then discards — for the second full pass that makes
      // every min reproducible.
      try Await.result(Future.sequence(fs), (budgetSec / 3).seconds)
      catch { case _: java.util.concurrent.TimeoutException =>
        // kill the stragglers too — otherwise they keep computing and
        // contend with the timed runs on the same cores
        spark.sparkContext.cancelAllJobs()
        System.err.println("[bench] warmup timed out; continuing") }
      // shutdownNow, not shutdown: graceful shutdown still EXECUTES the
      // queued warmup futures, which would launch fresh Spark jobs
      // concurrently with the timed rounds after a timeout (on the
      // success path the queue is empty and this is equivalent)
      pool.shutdownNow()
      Sessions.dropCheckpoints(spark)
    }
    val warmupSec = (System.nanoTime() - t0) / 1e9
    // Three timed rounds, INTERLEAVED (full pass over every query, then
    // repeat), min per query: the host shows external interference in
    // multi-minute windows (identical plans vary 1 s ↔ 80 s). Two
    // back-to-back runs of one query both land inside a bad window;
    // interleaving separates a query's samples by a whole pass, so the
    // min dodges any window shorter than ~1/3 of the bench.
    // ---- fixed calibration probe (VERDICT r15 item 2, the batch twin
    // of StreamBench's null-op stream): a CPU-bound query with no I/O
    // — xxhash64 over an in-memory range, one partition per core —
    // timed once after warmup and once after the last timed pass. Its
    // cost moves with the HOST only, so a round total delta can be
    // read raw AND normalized to the probe; this arc paid for two
    // manual interleaved bisects (r13→r14, the q87 30× wall) that the
    // probe would have labeled for free. Skipped on subset
    // iterations: a subset artifact never serves as a baseline.
    def calProbe(): Double = try {
      // tiny untimed run first: the probe's Janino compile must not
      // pollute the host measurement (same generated classes — only
      // the range bound differs).
      // first() over bit_xor, NOT count() over sum: count() lets the
      // optimizer prune the aggregate's value column and the "probe"
      // degrades to an empty range loop (guide §1.4's exact warning —
      // the r16 baseline measured 0.31 s for nominally 4G hashes),
      // and a Long SUM of full-range hashes throws under Spark 4's
      // ANSI default (the silently-caught error that shipped the mid
      // bench with no calibration fields). XOR folds every hash
      // overflow-free, and reading the value forces the work the
      // probe exists to time.
      spark.range(0L, 1000000L, 1, HostLoad.cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s").first()
      val t = System.nanoTime()
      spark.range(0L, CalibrationRows, 1, HostLoad.cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s").first()
      (System.nanoTime() - t) / 1e9
    } catch { case _: Throwable => -1.0 }
    val isSubset = only.isDefined
    val calBefore = if (isSubset) -1.0 else calProbe()
    if (!isSubset) System.err.println(
      f"[bench] calibration probe (before): $calBefore%.2f s")
    val samples = scala.collection.mutable.Map[String, List[Double]]()
    val failed = scala.collection.mutable.Set[String]()
    def inBudget: Boolean = (System.nanoTime() - t0) / 1e9 < budgetSec
    // Spread = second-smallest / smallest sample: "is the min
    // reproducible?" — the question that decides whether the reported
    // number is trustworthy. (max/min would chase queries forever
    // whose FIRST run paid a one-time cost — e.g. the shared-artifact
    // build — even after two consistent lows exist.)
    def spreadOf(name: String): Double = {
      val runs = samples.getOrElse(name, Nil)
      if (runs.size < 2) Double.PositiveInfinity
      else {
        val sorted = runs.sorted
        sorted(1) / math.max(sorted.head, 1e-3)
      }
    }
    // Spread above which a query's timing is treated
    // as noise-contaminated and re-sampled by the adaptive passes —
    // the host shows external interference in multi-minute windows
    // (identical plans vary 1 s ↔ 80 s), and ADVICE r7 flagged that a
    // real 1.5× regression was indistinguishable from that noise.
    val SpreadThresh = 1.5
    var round = 1
    var fullPasses = 0
    while (round == 1 || (round <= 6 && inBudget)) {
      // Passes 1–2 run EVERY query, interleaved (a query's two samples
      // are separated by a whole pass, so the min dodges any noise
      // window shorter than ~half the bench). Passes 3+ are ADAPTIVE:
      // only queries that still look noisy — fewer than 2 samples
      // (budget cut pass 2 short) or spread > SpreadThresh — so the
      // remaining budget buys variance where variance exists instead
      // of a third sample of a stable 0.2 s query.
      val failedBefore = failed.size
      val pass = names.filter { case (n, _) =>
        !failed.contains(n) && (round <= 2 ||
          samples.getOrElse(n, Nil).size < 2 || spreadOf(n) > SpreadThresh)
      }
      if (pass.isEmpty) { round = 7 } // all stable — stop early
      else {
        if (round >= 3) System.err.println(
          s"[bench] adaptive pass $round: ${pass.size} noisy queries")
        val it = pass.iterator
        while (it.hasNext && (round == 1 || inBudget)) {
          val (name, fn) = it.next()
          // session hygiene OUTSIDE the timed window
          Sessions.dropCheckpoints(spark)
          sample(name, fn(spark, sfDir).count(), samples, failed) match {
            case Some(sec) =>
              System.err.println(f"[bench] r$round $name: $sec%.1f s")
            case None => System.err.println(s"[bench] r$round $name: FAILED")
          }
        }
        if (!it.hasNext && pass.size + failedBefore == names.size)
          fullPasses += 1
        round += 1
      }
    }
    val calAfter = if (isSubset) -1.0 else calProbe()
    if (!isSubset) System.err.println(
      f"[bench] calibration probe (after): $calAfter%.2f s")
    // min-of-2, the same stance as the query timings; a failed probe
    // (negative wall can't happen, but a throw path yields none) must
    // not produce a denominator
    val calOpt = Seq(calBefore, calAfter).filter(_ > 0) match {
      case Nil => None
      case s => Some(s.min)
    }
    val hostLoadAfter = HostLoad.loadavg()
    val results = names.collect { case (name, _) if !failed.contains(name) =>
      val runs = samples(name).reverse
      System.err.println(f"[bench] $name: ${runs.min}%.1f s (runs: " +
        runs.map(s => f"$s%.1f").mkString(", ") + ")")
      name -> runs.min
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Per-query variance (ADVICE r7): how many samples each min came
    // from and the min-reproducibility spread, so a real regression is
    // distinguishable from host noise when reading the artifact.
    val residualNoisy = names.count { case (n, _) =>
      spreadOf(n) > SpreadThresh }
    val sampleCounts = names.map { case (n, _) =>
      samples.getOrElse(n, Nil).size }
    // Shared-artifact build cost (ADVICE r9): min-of-samples hides the
    // Memo build inside discarded first samples — surface it so
    // q87/q89/q92 totals stay comparable across memo changes. Keyed by
    // artifact (rec_ui/rec_cf/rec_cn), timed-SF entries only.
    val memoByArtifact = Memo.buildSeconds(spark).toSeq.collect {
      case (k, v) if k.startsWith(s"$sfDir#") =>
        k.substring(sfDir.length + 1) -> v
    }.toMap
    val memoSec = memoByArtifact.toSeq
      .map { case (a, v) => s"\"$a\":${r3(v)}" }
      .sorted.mkString("{", ",", "}")
    // Artifact→query mapping (VERDICT r10 item 6): a reader shouldn't
    // need the memo's artifact naming to reconstruct what a COLD
    // session pays per recommender query — warm (min-of-samples) +
    // the builds that query triggers when nothing is memoized yet.
    val artifactsFor = Seq(
      "q87_item_cf" -> Seq("rec_ui", "rec_cf"),
      "q89_content_rec" -> Seq("rec_ui", "rec_cn"),
      "q92_hybrid_rec" -> Seq("rec_ui", "rec_cf", "rec_cn"))
    val memoByQuery = artifactsFor.flatMap { case (q, arts) =>
      results.get(q).map { warm =>
        val b = arts.map(a => memoByArtifact.getOrElse(a, 0.0)).sum
        s"\"$q\":{\"warm\":${r3(warm)},\"build\":${r3(b)}," +
          s"\"cold_total\":${r3(warm + b)}}"
      }
    }.mkString("{", ",", "}")
    // Local-iteration delta (VERDICT r11 item 5, rescoped by r15 item
    // 1): the tree's own last full-run artifact (bench_queries.json,
    // still on disk at this point, read BEFORE it is overwritten
    // below). Same-sha is fine here — same-commit iteration deltas
    // are the point of this baseline. The ROUND-over-round comparison
    // no longer rides this field: r15's final bench run re-based its
    // only delta to the round's own earlier run, shipping a +11.9%
    // round move unflagged — the round delta now has its own
    // unconditional fields (roundDeltaFields) and the ≥10% gate fires
    // there. A BENCH_ONLY subset run still can't participate on
    // either side of any baseline: its total covers a handful of
    // queries, and its artifact must not become the next full run's
    // baseline.
    val prevTotal: Option[(Double, String)] = if (isSubset) None else {
      try {
        val p = java.nio.file.Paths.get("bench_queries.json")
        if (!java.nio.file.Files.exists(p)) None
        else {
          val r = parsePrevTotal(
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
            sfDir).map((_, "bench_queries.json"))
          if (r.isEmpty) System.err.println(
            "[bench] bench_queries.json not usable as local baseline " +
              "(bench_only subset / different sf / malformed) — " +
              "local delta omitted")
          r
        }
      } catch { case _: Throwable => None }
    }
    val localDelta = prevTotal.map { case (pt, src) =>
      val pct = (total - pt) / pt * 100.0
      System.err.println(
        f"[bench] local delta vs $src: $pct%+.1f%% " +
          f"($pt%.1f s -> $total%.1f s)")
      s""","prev_total_sec":${r3(pt)},"delta_vs_prev_total_pct":${r3(pct)}""" +
        s""","prev_total_source":"$src""""
    }.getOrElse("")
    val roundDelta =
      if (isSubset) ""
      else roundDeltaFields(java.nio.file.Paths.get("."), sfDir, total,
        calOpt, GitStamp.sha)
    val calibFields = calOpt.map { c =>
      s""","calibration_sec":${r3(c)}""" +
        s""","calibration_sec_before":${r3(calBefore)}""" +
        s""","calibration_sec_after":${r3(calAfter)}"""
    }.getOrElse("")
    val totalDelta = calibFields + localDelta + roundDelta
    val subsetField = if (isSubset) s""","bench_only":true""" else ""
    val hostFields = HostLoad.jsonFields(hostLoadBefore, hostLoadAfter)
    // Cold-session headline (VERDICT r16 item 9): the warm total plus
    // every shared-artifact build a cold session would pay once —
    // published next to the warm total so round numbers can be read
    // either way. Derived, not separately measured: the builds are
    // already surfaced per artifact in memo_build_sec.
    val coldTotal = total + memoByArtifact.values.sum
    val failedField = failedQueriesField(failed)
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,$failedField"warmup_sf0001_sec":${r3(warmupSec)},"timed_runs":$fullPasses,"samples_min":${if (sampleCounts.isEmpty) 0 else sampleCounts.min},"samples_max":${if (sampleCounts.isEmpty) 0 else sampleCounts.max},"noisy_spread_gt_${SpreadThresh}":$residualNoisy,"memo_build_sec":$memoSec,"memo_build_by_query":$memoByQuery,"cold_total_sec":${r3(coldTotal)}$totalDelta$subsetField,"sha":"${GitStamp.sha}",$hostFields,"agg":"min","interleaved":true,"adaptive_passes":true,"sf":"$sfDir"}"""
    // The driver's tail capture clipped the FRONT of the full line in
    // round 6 (17 of 85 per-query timings lost) — persist the complete
    // per-query map as its own artifact so it survives any stdout
    // truncation. The artifact additionally carries every raw sample
    // and the per-query spread (the stdout line stays compact).
    val sampleJson = names.map { case (n, _) =>
      val runs = samples.getOrElse(n, Nil).reverse
      val spread =
        if (runs.size < 2) "null"
        else { val s = runs.sorted; r3(s(1) / math.max(s.head, 1e-3)) }
      s"\"$n\":{\"min\":${r3(if (runs.isEmpty) -1 else runs.min)}," +
        s"\"spread\":$spread," +
        runs.map(r3).mkString("\"runs\":[", ",", "]}")
    }.mkString("{", ",", "}")
    val artifact = full.dropRight(1) + s""","samples":$sampleJson}"""
    // Subset iterations write to their OWN artifact (ADVICE r12): a
    // BENCH_ONLY run overwriting bench_queries.json destroyed the full
    // run's baseline, silently disabling the next full run's
    // round-over-round gate. parsePrevTotal's bench_only refusal stays
    // as defense-in-depth for pre-split artifacts.
    val artifactPath =
      if (isSubset) "bench_queries_subset.json" else "bench_queries.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(artifactPath),
      (artifact + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $artifactPath write failed: $e") }
    println(full)
    // compact duplicate LAST: even if the full line above is clipped by
    // a bounded tail capture, this one always parses — and it now
    // carries as much of the per-query map as the driver's 2000-char
    // tail window can hold (VERDICT r16 item 1: the `queries:{}` it
    // carried for 11 rounds left PERF per-query and scaling data dark).
    // Entries are budget-fitted heaviest-first ([[fitQueries]]); the
    // complete map stays in the full line above and in $artifactPath.
    // The local-iteration delta and the probe's before/after samples
    // stay full-line-only — the parsed line keeps the round gate
    // (calibration_sec, prev_round delta, attribution) and the host
    // evidence. It carries the subset marker too — the driver's round
    // artifact wraps THIS line, and without "bench_only" a subset
    // total would pass the fallback baseline's refusal check.
    val compactDelta =
      calOpt.map(c => s""","calibration_sec":${r3(c)}""").getOrElse("") +
        roundDelta
    val pre =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":"""
    def post(omitted: Int) =
      s""","queries_omitted":$omitted,"n_queries":${results.size},$failedField"cold_total_sec":${r3(coldTotal)}$compactDelta$subsetField,"sha":"${GitStamp.sha}",$hostFields,"sf":"$sfDir"}"""
    // reserve 3 digits for the omitted count before fitting
    val qBudget = MaxFinalLineChars - pre.length - post(999).length
    val (qFit, omitted) = fitQueries(results.toSeq, qBudget)
    println(pre + qFit + post(omitted))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
