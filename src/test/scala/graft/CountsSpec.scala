package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** README's headline counts, GENERATED from the build (VERDICT r9
  * item 9: the hand-written numbers drifted twice). The spec computes
  * the real counts — registered queries and oracles from SparkEntry,
  * ScalaTest registrations by scanning the test sources (every suite
  * registers statically at two-space indent; the count is exact, see
  * the regex note) — rewrites README.md in place when stale (the same
  * self-healing convention as GoldenRefreshSpec), and then asserts the
  * file agrees. `sbt test` therefore cannot pass with drifted counts.
  */
class CountsSpec extends AnyFunSuite {

  private val readme = Paths.get("README.md")

  test("README's query/oracle/test counts equal the build's") {
    val nQueries = SparkEntry.queries.size
    val nOracles = SparkEntry.oracleSql.size
    val nRowsOnly = nQueries - nOracles
    // static registrations only: every suite writes `test(`/`property(`
    // at exactly two-space class-body indent and none registers in a
    // loop — verified by comparing this count to the last full
    // `sbt test` summary whenever a suite is added
    val testDir = Paths.get("src", "test", "scala", "graft")
    val reg = "^  (test|property)\\(".r
    val nTests = Files.list(testDir).toArray.map(_.toString)
      .filter(_.endsWith(".scala"))
      .map { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines()
          .count(l => reg.findFirstIn(l).isDefined)
      }.sum
    val before = new String(Files.readAllBytes(readme), "UTF-8")
    val after = before
      .replaceAll("\\d+ registered queries", s"$nQueries registered queries")
      .replaceAll("\\d+ hash-compared", s"$nOracles hash-compared")
      .replaceAll("\\d+ ScalaTests", s"$nTests ScalaTests")
      .replaceAll("The \\w+ rows-only queries",
        s"The ${if (nRowsOnly == 2) "two" else nRowsOnly.toString} " +
          "rows-only queries")
    if (after != before) {
      Files.write(readme, after.getBytes("UTF-8"))
      info(s"README counts refreshed: $nQueries queries, $nOracles " +
        s"oracles, $nTests tests")
    }
    val now = new String(Files.readAllBytes(readme), "UTF-8")
    assert(now.contains(s"$nQueries registered queries"))
    assert(now.contains(s"$nOracles hash-compared"))
    assert(now.contains(s"$nTests ScalaTests"))
  }

  test("every registered query has an oracle or a DECLARED self-gating " +
      "mode (the marker is an allowlist, never derived from absence)") {
    val oracleLess =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(oracleLess == SparkEntry.selfGating,
      s"oracle-less queries ${oracleLess -- SparkEntry.selfGating} " +
        "are not declared self-gating (add an oracle or, with an " +
        "in-query correctness check, add to SparkEntry.selfGating); " +
        s"stale declarations: ${SparkEntry.selfGating -- oracleLess}")
    assert((SparkEntry.selfGating & SparkEntry.oracleSql.keySet).isEmpty,
      "a query with an oracle must not also claim self-gating")
  }

  test("Bench.parsePrevTotal gates the round-over-round baseline") {
    // shape of the artifact Bench itself writes (headline first, then
    // per-query values that must NOT be mistaken for the total)
    val art = """{"metric":"total","value":131.75,"unit":"sec",""" +
      """"queries":{"q01_pricing_summary":0.42,"q93_cf_eval":10.4},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parsePrevTotal(art, "/root/testdata/sf0.1")
      .contains(131.75))
    // a different SF is not a baseline (a local sf0.01 iteration file
    // must not masquerade as the round total)
    assert(Bench.parsePrevTotal(art, "/root/testdata/sf0.01").isEmpty)
    // the anchored match skips a "value" key that is not the headline
    // metric: an earlier stray "value" does not shadow the total, and
    // a body with per-query values but no headline yields no baseline
    val shuffled = """{"queries":{"value":9.9},"metric":"total",""" +
      """"value":42.0,"sf":"d"}"""
    assert(Bench.parsePrevTotal(shuffled, "d").contains(42.0))
    assert(Bench.parsePrevTotal(
      """{"queries":{"value":9.9},"sf":"d"}""", "d").isEmpty)
    // a BENCH_ONLY subset artifact at the SAME SF is not a baseline
    // either — its total covers a handful of queries
    assert(Bench.parsePrevTotal(
      """{"metric":"total","value":19.2,"bench_only":true,""" +
        """"sf":"/root/testdata/sf0.1"}""", "/root/testdata/sf0.1").isEmpty)
    // non-positive totals and garbage never produce a baseline
    assert(Bench.parsePrevTotal(
      """{"metric":"total","value":0,"sf":"d"}""", "d").isEmpty)
    assert(Bench.parsePrevTotal("", "d").isEmpty)
    assert(Bench.parsePrevTotal("not json at all", "d").isEmpty)
    // the driver's round artifact (BENCH_rNN.json `parsed` object)
    // re-serializes the same line with ": " spacing — the fallback
    // baseline path must parse it, including its subset refusal
    val round = """{"n": 12, "rc": 0, "parsed": {"metric": "total", """ +
      """"value": 124.572, "unit": "sec", "n_queries": 148, """ +
      """"sf": "/root/testdata/sf0.1"}}"""
    assert(Bench.parsePrevTotal(round, "/root/testdata/sf0.1")
      .contains(124.572))
    assert(Bench.parsePrevTotal(round
        .replace("\"rc\": 0", "\"rc\": 0, \"bench_only\": true"),
      "/root/testdata/sf0.1").isEmpty)
  }

  test("Bench.fitQueries: budget-fitted per-query map — heaviest " +
      "first, valid JSON, never over budget") {
    val entries = Seq("q01_pricing_summary" -> 0.31,
      "q93_cf_eval" -> 10.4, "q37_betweenness" -> 13.36,
      "q22_neardup_jaccard" -> 2.3, "q19_lang_id" -> 0.096)
    // everything fits: complete map, zero omitted, heaviest first
    val (all, om0) = Bench.fitQueries(entries, 1000)
    assert(om0 == 0)
    assert(all.startsWith("{\"q37_betweenness\":13.360," +
      "\"q93_cf_eval\":10.400"))
    assert(all.endsWith("\"q19_lang_id\":0.096}"))
    // a tight budget keeps the heaviest entries and counts the rest;
    // the emitted map NEVER exceeds the budget (the driver's tail
    // window clips at a hard 2000 chars — round 5 shipped parsed:null)
    val budget = 60
    val (fit, om) = Bench.fitQueries(entries, budget)
    assert(fit.length <= budget)
    assert(fit.contains("q37_betweenness") && fit.contains("q93_cf_eval"))
    assert(om == entries.size - fit.count(_ == ':'))
    // greedy continue-fill: a long-named entry that does not fit must
    // not starve a shorter one behind it
    val longName = ("q99_" + "x" * 100) -> 5.0
    val (fit2, om2) = Bench.fitQueries(
      Seq("q07_top_words" -> 0.03, longName, "q93_cf_eval" -> 10.4), 60)
    assert(fit2.contains("q93_cf_eval") && fit2.contains("q07_top_words"))
    assert(om2 == 1 && fit2.length <= 60)
    // deterministic ties: equal seconds order by name
    val (ties, _) = Bench.fitQueries(Seq("b" -> 1.0, "a" -> 1.0), 1000)
    assert(ties == "{\"a\":1.000,\"b\":1.000}")
    // degenerate budget: an empty (still-valid) map, everything omitted
    val (none, omAll) = Bench.fitQueries(entries, 2)
    assert(none == "{}" && omAll == entries.size)
  }

  test("Bench final-line budget holds 148 realistic query names with " +
      "the gate fields' worst-case overhead") {
    // the real query registry IS the name distribution that must fit:
    // at least the heavy half of the per-query map (everything a perf
    // comparison can act on) must survive next to worst-case gate
    // fields inside MaxFinalLineChars
    val names = SparkEntry.queries.keys.toSeq
    val entries = names.zipWithIndex.map { case (n, i) =>
      n -> (i % 40) * 0.37 } // realistic mixed magnitudes
    val worstFixed = 700 // measured: gate+attribution+host fields ≈640
    val (fit, omitted) =
      Bench.fitQueries(entries, Bench.MaxFinalLineChars - worstFixed)
    assert(fit.length + worstFixed <= Bench.MaxFinalLineChars)
    assert(entries.size - omitted >= 40,
      s"only ${entries.size - omitted} of ${entries.size} entries fit " +
        "— the driver would lose the per-query signal again")
  }

  test("Bench.attributionFor: a >=10% move needs a bisect artifact " +
      "newer than the last round artifact") {
    val root = Files.createTempDirectory("graft_attr")
    def touch(rel: String, mtimeMs: Long) = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, "x".getBytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      p
    }
    val t0 = 1700000000000L
    // no round artifact at all: any bisect output attributes
    touch("diag/r15/bisect_bench_a_vs_b.out", t0)
    assert(Bench.attributionFor(root)
      == "diag/r15/bisect_bench_a_vs_b.out")
    // a round artifact NEWER than the bisect: the evidence predates
    // the number it would have to explain -> MISSING
    touch("BENCH_r14.json", t0 + 60000)
    assert(Bench.attributionFor(root) == "MISSING")
    // a fresh bisect after the round artifact attributes again; the
    // NEWEST qualifying artifact wins
    touch("diag/r15/bisect_bench_c_vs_d.out", t0 + 120000)
    touch("diag/r15/bisect_bench_e_vs_f.out", t0 + 180000)
    assert(Bench.attributionFor(root)
      == "diag/r15/bisect_bench_e_vs_f.out")
    // only bisect outputs under diag/*/ count
    val stray = touch("diag/r15/notes.out", t0 + 240000)
    assert(Bench.attributionFor(root)
      == "diag/r15/bisect_bench_e_vs_f.out")
    Files.delete(stray)
  }

  test("Bench.attributionFor qualifies by CONTENT first: a bisect " +
      "naming cur=<our sha> attributes whatever its mtime says") {
    // ADVICE r15: git checkout does not preserve mtimes, so the
    // timestamp qualifier alone is not reproducible across machines
    val root = Files.createTempDirectory("graft_attr_sha")
    def put(rel: String, body: String, mtimeMs: Long) = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      p
    }
    val t0 = 1700000000000L
    put("BENCH_r15.json", """{"parsed":{}}""", t0 + 60000)
    // sha-bearing bisect OLDER than the round artifact: mtime alone
    // would reject it (fresh-checkout scenario) — content qualifies
    put("diag/r16/bisect_bench_old_vs_cur.out",
      "[bisect] prev aaaabbbbcccc: runs [100.0] -> min 100.0 s\n" +
        "[bisect] cur  deadbeef0000: runs [101.0] -> min 101.0 s\n", t0)
    assert(Bench.attributionFor(root, "deadbeef0000")
      == "diag/r16/bisect_bench_old_vs_cur.out")
    // a bisect naming a DIFFERENT cur sha is another binary's
    // evidence: a fresh mtime cannot rehabilitate it
    val other = put("diag/r16/bisect_bench_x_vs_y.out",
      "[bisect] cur  999988887777: runs [50.0] -> min 50.0 s\n",
      t0 + 120000)
    assert(Bench.attributionFor(root, "deadbeef0000")
      == "diag/r16/bisect_bench_old_vs_cur.out")
    Files.delete(other)
    assert(Bench.attributionFor(root, "999988887777") == "MISSING")
    // sha-matched (old mtime) beats a merely mtime-qualified no-sha
    // file — content is the stronger receipt
    put("diag/r16/bisect_bench_nosha.out", "no summary line here",
      t0 + 180000)
    assert(Bench.attributionFor(root, "deadbeef0000")
      == "diag/r16/bisect_bench_old_vs_cur.out")
    // unknown self sha: everything falls back to the mtime rule
    assert(Bench.attributionFor(root, "unknown")
      == "diag/r16/bisect_bench_nosha.out")
  }

  test("Bench.attributionFor committed-receipt tier: a bisect whose " +
      "cur predates HEAD still attributes when its prev IS the round " +
      "baseline's sha") {
    // committing the bisect output necessarily moves HEAD past the
    // cur sha it recorded (r16: the receipt existed, the artifact
    // stamped MISSING) — the prev side naming THIS round's baseline
    // binary is content evidence no other round's bisect can carry
    val root = Files.createTempDirectory("graft_attr_prev")
    def put(rel: String, body: String, mtimeMs: Long) = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      p
    }
    val t0 = 1700000000000L
    put("BENCH_r15.json", """{"parsed":{"sha": "aaaabbbbcccc"}}""",
      t0 + 60000)
    // bisect ran at an ancestor commit (cur != HEAD) against the
    // round baseline (prev == baseline sha); mtime OLDER than the
    // round artifact (fresh-checkout shape) — prev-content qualifies
    put("diag/r16/bisect_bench_receipt.out",
      "[bisect] prev aaaabbbbcccc: runs [101.6] -> min 101.6 s\n" +
        "[bisect] cur  5cfd46559f54: runs [91.0] -> min 91.0 s\n", t0)
    assert(Bench.attributionFor(root, "719a1387ffe6",
      Some("aaaabbbbcccc")) == "diag/r16/bisect_bench_receipt.out")
    // without the baseline sha (or with a different one) the
    // mismatched-cur rejection stands
    assert(Bench.attributionFor(root, "719a1387ffe6", None)
      == "MISSING")
    assert(Bench.attributionFor(root, "719a1387ffe6",
      Some("ffffeeeedddd")) == "MISSING")
    // a cur match still outranks the prev-match tier
    put("diag/r16/bisect_bench_self.out",
      "[bisect] prev aaaabbbbcccc: runs [100.0] -> min 100.0 s\n" +
        "[bisect] cur  719a1387ffe6: runs [90.0] -> min 90.0 s\n",
      t0 - 60000)
    assert(Bench.attributionFor(root, "719a1387ffe6",
      Some("aaaabbbbcccc")) == "diag/r16/bisect_bench_self.out")
  }

  test("Bench.roundDeltaFields: the round delta and the >=10% gate " +
      "ride BENCH_r(N-1).json even when a same-round " +
      "bench_queries.json exists (VERDICT r15 item 1)") {
    val root = Files.createTempDirectory("graft_round_delta")
    val sf = "/root/testdata/sf0.1"
    // the driver's round-artifact wrap (": " spacing), calibration
    // stamped, generated from a DIFFERENT commit than ours
    Files.write(root.resolve("BENCH_r15.json"),
      ("""{"n": 148, "rc": 0, "parsed": {"metric": "total", """ +
        """"value": 100.0, "unit": "sec", "n_queries": 148, """ +
        """"calibration_sec": 2.0, "sha": "aaaabbbbcccc", """ +
        s""""sf": "$sf"}}""").getBytes("UTF-8"))
    // a same-round local artifact with a total 1.8% away — the r15
    // failure shape: this file must NOT re-base the round comparison
    Files.write(root.resolve("bench_queries.json"),
      ("""{"metric":"total","value":113.0,"unit":"sec",""" +
        s""""queries":{},"sha":"selfsha00000","sf":"$sf"}""")
        .getBytes("UTF-8"))
    val frag = Bench.roundDeltaFields(root, sf, total = 115.0,
      cal = Some(2.2), selfSha = "selfsha00000")
    assert(frag.contains("\"prev_round_total_sec\":100.000"))
    assert(frag.contains("\"delta_vs_prev_round_pct\":15.000"))
    assert(frag.contains("\"prev_round_source\":\"BENCH_r15.json\""))
    // the gate fires on the ROUND move (+15%), not the local 1.8%
    assert(frag.contains("\"total_moved_ge_10pct\":true"))
    // no bisect artifact in this root: the flag condemns itself
    assert(frag.contains("\"attribution\":\"MISSING\""))
    // calibration: probe moved 2.0 -> 2.2 s (+10% pure host); the
    // normalized total delta is (115/2.2)/(100/2.0) - 1 = +4.545%
    assert(frag.contains("\"calibration_delta_pct\":10.000"))
    assert(frag.contains("\"delta_vs_prev_round_norm_pct\":4.545"))
    // quiet round move: fields present, no gate, no attribution
    val quiet = Bench.roundDeltaFields(root, sf, total = 104.0,
      cal = None, selfSha = "selfsha00000")
    assert(quiet.contains("\"delta_vs_prev_round_pct\":4.000"))
    assert(!quiet.contains("total_moved_ge_10pct"))
    assert(!quiet.contains("calibration_delta_pct"))
    // a newer round artifact generated from THIS commit is a
    // self-comparison: refused, walks back to r15
    Files.write(root.resolve("BENCH_r16.json"),
      ("""{"parsed": {"metric": "total", "value": 200.0, """ +
        s""""sha": "selfsha00000", "sf": "$sf"}}""").getBytes("UTF-8"))
    val walked = Bench.roundDeltaFields(root, sf, total = 104.0,
      cal = None, selfSha = "selfsha00000")
    assert(walked.contains("\"prev_round_source\":\"BENCH_r15.json\""))
    // with a different self sha the newest round artifact wins, and
    // numeric ordering (not lexicographic) picks it
    val fresh = Bench.roundDeltaFields(root, sf, total = 104.0,
      cal = None, selfSha = "othersha0000")
    assert(fresh.contains("\"prev_round_source\":\"BENCH_r16.json\""))
    // no usable baseline at all -> empty fragment, never a throw
    assert(Bench.roundDeltaFields(root, "/some/other/sf", 104.0,
      None, "othersha0000").isEmpty)
  }

  test("Bench.roundDeltaFields labels a baseline from a host with " +
      "another core count as cross_host; the delta and gate stay") {
    val root = Files.createTempDirectory("graft_cross_host")
    val sf = "testdata/sf0.1"
    Files.write(root.resolve("BENCH_r16.json"),
      ("""{"n": 16, "cpus": 32, "parsed": {"metric": "total", """ +
        """"value": 100.0, "calibration_sec": 2.0, """ +
        """"sha": "aaaabbbbcccc", "host_cpus": 32, """ +
        s""""sf": "$sf"}}""").getBytes("UTF-8"))
    val cross = Bench.roundDeltaFields(root, sf, total = 13.1,
      cal = Some(8.5), selfSha = "selfsha00000", hostCpus = 4)
    assert(cross.contains("\"baseline_host_cpus\":32,\"cross_host\":true"))
    assert(cross.contains("\"delta_vs_prev_round_pct\":-86.900"))
    assert(cross.contains("\"total_moved_ge_10pct\":true"))
    val same = Bench.roundDeltaFields(root, sf, total = 104.0,
      cal = None, selfSha = "selfsha00000", hostCpus = 32)
    assert(same.contains("\"delta_vs_prev_round_pct\":4.000"))
    assert(!same.contains("cross_host") && !same.contains("baseline_host"))
    // an unstamped baseline cannot be shown to share this host
    Files.write(root.resolve("BENCH_r17.json"),
      ("""{"parsed": {"metric": "total", "value": 100.0, """ +
        s""""sha": "aaaabbbbcccc", "sf": "$sf"}}""").getBytes("UTF-8"))
    assert(Bench.roundDeltaFields(root, sf, total = 104.0, cal = None,
      selfSha = "selfsha00000", hostCpus = 32)
      .contains("\"baseline_host_cpus\":null,\"cross_host\":true"))
  }

  test("Bench.sample: a throwing query yields no sample, is named in " +
      "failed_queries and stays out of the min") {
    val samples = scala.collection.mutable.Map[String, List[Double]]()
    val failed = scala.collection.mutable.Set[String]()
    def stub: Long = throw new IllegalStateException("stub query failed")
    assert(Bench.sample("q_ok", 7L, samples, failed).isDefined)
    assert(Bench.sample("q_bad", stub, samples, failed).isEmpty)
    assert(Bench.sample("q_ok", 7L, samples, failed).isDefined)
    assert(samples.keySet == Set("q_ok") && samples("q_ok").size == 2)
    assert(failed == Set("q_bad"))
    assert(Bench.failedQueriesField(failed) ==
      "\"failed_queries\":[\"q_bad\"],")
    assert(Bench.failedQueriesField(Nil) == "\"failed_queries\":[],")
  }

  test("Bench.parseCalibration reads only the headline probe field") {
    assert(Bench.parseCalibration(
      """{"calibration_sec":2.135,"calibration_sec_before":2.135,""" +
        """"calibration_sec_after":2.410}""").contains(2.135))
    // driver re-serialized spacing
    assert(Bench.parseCalibration(
      """{"parsed": {"calibration_sec": 1.9}}""").contains(1.9))
    // absent (pre-r16 artifact) or non-positive -> None: a failed
    // probe must never become a normalizing denominator
    assert(Bench.parseCalibration("""{"metric":"total"}""").isEmpty)
    assert(Bench.parseCalibration(
      """{"calibration_sec":0}""").isEmpty)
  }

  test("committed QUERY_MODES.json mirrors SparkEntry.selfGating " +
      "(VERDICT r15 item 5: a repo reader must resolve no_oracle rows " +
      "without the driver's out_dir)") {
    val txt = new String(
      Files.readAllBytes(Paths.get("QUERY_MODES.json")), "UTF-8")
    val declared = "\"(q[^\"]+)\"\\s*:\\s*\"self_gating\"".r
      .findAllMatchIn(txt).map(_.group(1)).toSet
    assert(declared == SparkEntry.selfGating,
      s"QUERY_MODES.json ($declared) drifted from " +
        s"SparkEntry.selfGating (${SparkEntry.selfGating}) — " +
        "regenerate the committed copy")
  }

  test("StreamBench delta guard: accounting marker + prev-rate parse") {
    // shape of the artifact StreamBench itself writes
    val art = """{"duration_sec_per_run":12,"runs":2,"warm_runs":1,""" +
      """"cpus":8,"excludes_first_batch":true,"streams":{""" +
      """"curation_stateless":{"rows_per_sec":[100127.4,115098.9],""" +
      """"input_rows":[1100000,1100000]},""" +
      """"zero_batch":{"rows_per_sec":[0.0,0.0],"input_rows":[0,0]}}}"""
    assert(StreamBench.sameAccounting(art))
    // a pre-r11 artifact (wall-clock accounting) is not comparable
    assert(!StreamBench.sameAccounting(
      """{"duration_sec_per_run":12,"streams":{}}"""))
    // best = max across runs
    assert(StreamBench.prevBestRate(art, "curation_stateless")
      .contains(115098.9))
    // a zero-batch previous run yields no baseline (the delta division
    // would emit Infinity/NaN into the JSON)
    assert(StreamBench.prevBestRate(art, "zero_batch").isEmpty)
    // absent stream → no delta entry
    assert(StreamBench.prevBestRate(art, "no_such_stream").isEmpty)
    // calibration probe (r14+): top-level array, best = max; absent or
    // zero in older artifacts → None (raw deltas only, no normalization)
    val artCal = art.dropRight(1) +
      ""","calibration_rows_per_sec":[1852001.5,2104330.0]}"""
    assert(StreamBench.prevCalibration(artCal).contains(2104330.0))
    assert(StreamBench.prevCalibration(art).isEmpty)
    assert(StreamBench.prevCalibration(
      art.dropRight(1) + ""","calibration_rows_per_sec":[0.0]}""").isEmpty)
  }

  test("StreamBench.deltaLabel: calibration normalization labels " +
      "host drift and lets real regressions survive") {
    // synthetic drifted probe: the host halved (probe 14M -> 7M
    // rows/s) and the stream "regressed" raw -50% with it — the
    // normalized delta is 0%, so the label is a host-drift candidate
    val (raw, norm, tag) = StreamBench.deltaLabel(
      curBest = 50000.0, prevBest = 100000.0,
      cal = Some(7.0e6), prevCal = Some(14.0e6))
    assert(math.abs(raw + 50.0) < 1e-9)
    assert(norm.exists(n => math.abs(n) < 1e-9))
    assert(tag.contains("HOST-DRIFT CANDIDATE"))
    // flat probe, same raw move: the regression survives normalization
    val (_, norm2, tag2) = StreamBench.deltaLabel(
      50000.0, 100000.0, Some(14.0e6), Some(14.0e6))
    assert(norm2.exists(n => math.abs(n + 50.0) < 1e-9))
    assert(tag2.contains("survives calibration"))
    // probe missing on one side: raw-only label, no normalized number
    val (_, norm3, tag3) = StreamBench.deltaLabel(
      50000.0, 100000.0, Some(14.0e6), None)
    assert(norm3.isEmpty && tag3.contains("raw only"))
    // quiet raw move: no label at all, whatever the probes say
    val (raw4, _, tag4) = StreamBench.deltaLabel(
      95000.0, 100000.0, Some(7.0e6), Some(14.0e6))
    assert(math.abs(raw4 + 5.0) < 1e-9 && tag4.isEmpty)
  }

  test("plans/: comparisons against EvalMode members must visibly " +
      "bind an EvalMode (the cross-type == that survived two rounds)") {
    // VERDICT r14 item 7: `mode != EvalMode.TRY` with `mode` bound to
    // the whole NumericEvalContext compiled as a reference compare
    // that was always true. scalac's refchecks warning (now -Werror'd)
    // fires only when the types are PROVABLY disjoint — a future Spark
    // upgrade could change the carrier type to something the checker
    // can't prove disjoint. This grep is the belt to that suspender:
    // any name compared against an EvalMode member must be visibly an
    // EvalMode — destructured via NumericEvalContext(name, _) or
    // ascribed `name: EvalMode.Value`.
    import scala.jdk.CollectionConverters._
    import java.util.regex.Pattern
    val dir = Paths.get("src/main/scala/graft/plans")
    // both operand orders, dotted receivers included — `EvalMode.TRY
    // == mode` is the same always-false compare as `mode !=
    // EvalMode.TRY` and must not slip by on operand order
    val fwd = """([\w.]+)\s*[!=]=\s*EvalMode\.\w+""".r
    val rev = """EvalMode\.\w+\s*[!=]=\s*([\w.]+)""".r
    val stream = Files.list(dir)
    val files = try stream.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
    assert(files.nonEmpty)
    var checked = 0
    // visibly an EvalMode: a member-vs-member compare, a name
    // destructured out of NumericEvalContext, an explicit `:
    // EvalMode` ascription, or a terminal `.evalMode`/`evalMode`
    // identifier (the naming convention — a value CALLED evalMode
    // that is not one is a lie a reviewer sees at the use site)
    def visiblyEvalMode(full: String, src: String): Boolean = {
      if (full.startsWith("EvalMode.")) return true
      val last = Pattern.quote(full.split('.').last)
      full.split('.').last == "evalMode" ||
      ("NumericEvalContext\\(\\s*" + last + "\\b").r
        .findFirstIn(src).isDefined ||
      (last + "\\s*:\\s*EvalMode").r.findFirstIn(src).isDefined
    }
    files.foreach { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      (fwd.findAllMatchIn(src) ++ rev.findAllMatchIn(src)).foreach { m =>
        val name = m.group(1)
        checked += 1
        assert(visiblyEvalMode(name, src),
          s"${p.getFileName}: `${m.matched.trim}` " +
          s"compares `$name` against an EvalMode member, but `$name` " +
          "is not visibly an EvalMode in this file — destructure " +
          "NumericEvalContext(evalMode, _) or ascribe `: " +
          "EvalMode.Value` (rule: CountsSpec EvalMode cross-type " +
          "guard, VERDICT r13/r14 dead-ANSI-guard class)")
      }
    }
    // the rule must be exercising the real fuse guards, not greening
    // on an empty match set
    assert(checked >= 2, s"EvalMode comparison scan found $checked " +
      "sites — the KernelRewrite guards moved; update the rule's regex")
  }

  test("GitStamp resolves HEAD to the current commit (artifact staleness " +
      "is a string compare, not a timestamp guess)") {
    val expected = scala.sys.process.Process(
      Seq("git", "rev-parse", "HEAD")).!!.trim.take(12)
    assert(GitStamp.sha == expected)
    assert(GitStamp.shaOf(
      java.nio.file.Paths.get("/no/such/.git")) == "unknown")
  }

  test("GitStamp follows the .git-file gitdir indirection and the " +
      "worktree commondir ref store (bisect worktrees would otherwise " +
      "stamp 'unknown')") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("gitstamp")
    // layout: main/.git with the shared ref store; wt/.git a FILE
    // pointing at main/.git/worktrees/wt whose HEAD is a branch ref
    // resolved through commondir — the linked-worktree shape
    val mainGit = tmp.resolve("main/.git")
    Files.createDirectories(mainGit.resolve("refs/heads"))
    val sha = "0123456789abcdef0123456789abcdef01234567"
    Files.write(mainGit.resolve("refs/heads/feature"),
      (sha + "\n").getBytes("UTF-8"))
    val wtGitDir = mainGit.resolve("worktrees/wt")
    Files.createDirectories(wtGitDir)
    Files.write(wtGitDir.resolve("HEAD"),
      "ref: refs/heads/feature\n".getBytes("UTF-8"))
    Files.write(wtGitDir.resolve("commondir"),
      "../..\n".getBytes("UTF-8"))
    val wt = tmp.resolve("wt")
    Files.createDirectories(wt)
    val dotGit = wt.resolve(".git")
    Files.write(dotGit,
      s"gitdir: $wtGitDir\n".getBytes("UTF-8"))
    assert(GitStamp.shaOf(dotGit) == sha.take(12))
    // detached-HEAD worktree (what bisect_bench.sh checks out): the
    // worktree HEAD holds the raw sha, no ref hop needed
    Files.write(wtGitDir.resolve("HEAD"),
      (sha.reverse + "\n").getBytes("UTF-8"))
    assert(GitStamp.shaOf(dotGit) == sha.reverse.take(12))
    // relative gitdir pointer resolves against the .git file's parent
    Files.write(dotGit,
      "gitdir: ../main/.git/worktrees/wt\n".getBytes("UTF-8"))
    assert(GitStamp.shaOf(dotGit) == sha.reverse.take(12))
  }
}
