#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source tree of this repo. The first run builds the
program and the runner from source with sbt (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged.

A run:
  1. stages the inputs: the seeded tables (gen.py);
  2. computes the expected result of each query in DuckDB from its oracle
     SQL (`SparkEntry.oracleSql`), hashed with tools/check_oracle.py's
     typed canonical hash; cached per seed, and not part of set-up time;
  3. starts one JVM running perfbench.Runner: a session with graft.Verify's
     conf, then timed serial passes, the first of them cold (Runner.scala);
  4. checks every output of every timed pass against its expected hash
     (q16 and q41 by their declared self-gates: rows > 0);
  5. prints the metrics as the last line of stdout, one JSON object.

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json). A query or stream that throws, times out
or fails its check is a failed operation: it gives no timing sample, it is
named in the full result record, and the run exits non-zero. Every run
also writes a full result record, stamped with the host, under
perfbench/.work/results/ (or --record DIR); report.py summarizes them.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Scale factor of the input every pass reads.
TIMED_SF = 0.01
# A run times one cold pass, then the workload's settle passes, then warm
# passes for --seconds, at least MIN_WARM of them.
MIN_WARM = 1

# Workloads. Each is one set of operations; a run times serial passes over
# them. Every query module, every Memo build and the stream layer is timed
# in one of them; `--coverage` runs every query of a workload's module
# group instead (see README.md). `settle`: passes after the cold one that
# count as neither cold nor warm; olap_mix's short queries are still being
# compiled by the JIT in the two passes after the cold one.
WORKLOADS = {
    "olap_mix": {"settle": 2, "queries": {
        "ops.Relational": ["q01_pricing_summary"],
        "ops.Windows": ["q50_sessionize"], "ops.Text": ["q57_tfidf"],
        "sketch.Sketches": ["q144_hll_distinct"],
        "multimodal.Multimodal": ["q42_blob_meta"]}},
    "mining_cold": {"settle": 0, "queries": {
        "mining.Recommend": ["q87_item_cf", "q89_content_rec"],
        "mining.SetSimilarity": ["q24_neardup_lsh"],
        "mining.VectorSimilarity": ["q147_cos_pairs"],
        "mining.Son": ["q28_son_itemsets"],
        "ops.Pipeline": ["q111_vocab_encode"],
        "graph.Graphs": ["q34_triangles"],
        "graph.GirvanNewman": ["q38_gn_communities"],
        "cluster.KMeans": ["q40_kmeans"], "cluster.Bfr": ["q41_bfr"]},
        "streams": ["ingest_recs"]},
}
# The module groups that partition the registered queries.
COVERAGE = {
    "olap_mix": ["ops.Relational", "ops.Windows", "ops.Text",
                 "sketch.Sketches", "multimodal.Multimodal"],
    "mining_cold": ["mining.Recommend", "mining.SetSimilarity",
                    "mining.VectorSimilarity", "mining.Son", "ops.Pipeline",
                    "graph.Graphs", "graph.GirvanNewman", "cluster.KMeans",
                    "cluster.Bfr"],
}
MODULES = ["ops.Relational", "ops.Text", "ops.Windows", "ops.Pipeline",
           "mining.SetSimilarity", "mining.VectorSimilarity", "mining.Son",
           "mining.Recommend", "sketch.Sketches", "graph.Graphs",
           "graph.GirvanNewman", "cluster.KMeans", "cluster.Bfr",
           "multimodal.Multimodal"]
MEMOS = ["rec_ui", "rec_cf", "rec_cn"]
STREAMS = WORKLOADS["mining_cold"]["streams"]
# Oracles for the runner's stub queries (tests only): stub_wrong returns
# three rows where its oracle expects four.
STUB_ORACLE = {
    "stub_throws": "SELECT CAST(range AS BIGINT) AS id FROM range(3)",
    "stub_wrong": "SELECT CAST(range AS BIGINT) AS id FROM range(4)",
}
# q38's oracle SQL looks its golden up by the input's edge-set
# fingerprint, and the goldens cover only the project's test data. For any
# other input its expected result is the golden that tools/gn_golden.py's
# independent replay computes for that input's edges.
GOLDEN_REPLAY = {"q38_gn_communities"}
# The runner is stopped after this many seconds; what comes before it
# (build, staging, oracle) is not counted against it.
RUNNER_S = 150.0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """The tier-1 SPARK_DRIVER_MEM formula: half of RAM in GiB, 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def file_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def source_hash():
    """Hash of everything the build reads; names the build and, outside
    git, the tree."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".sbt", ".properties"))]
    return file_hash(paths)


def oracle_hash(src_hash):
    """Names the expected results: the build (oracle SQL), the input
    generator and this file (scale, stub oracles, golden replay), and the
    tools it imports."""
    return file_hash([os.path.join(HERE, "gen.py"),
                      os.path.join(HERE, "run.py"),
                      os.path.join(ROOT, "tools", "check_oracle.py"),
                      os.path.join(ROOT, "tools", "gn_golden.py")]) + src_hash


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


# --------------------------------------------------------------- build

def run_bounded(cmd, timeout, **kw):
    """Run `cmd`, killing it (and waiting for it) on timeout."""
    p = subprocess.Popen(cmd, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise
    return p.returncode


def build(src_hash):
    """Compile the program and the runner; cache the runtime classpath."""
    cp_file = os.path.join(WORK, f"classpath-{src_hash}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(log_path, "w") as lf:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         840, cwd=HERE, env=env, stdout=lf,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (rc={rc}); see {log_path}", 3)
    for stale in os.listdir(WORK):
        if stale.startswith(("classpath-", "registry-")):
            os.remove(os.path.join(WORK, stale))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def java_cmd(cp, heap_size, extra):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap_size}"] + opens +
            [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
             "perfbench.Runner"] + extra)


def registry(cp, src_hash):
    """Oracle SQL, self-gating set and module of every query."""
    path = os.path.join(WORK, f"registry-{src_hash}.json")
    if not os.path.isfile(path):
        rc = run_bounded(java_cmd(cp, "1g", ["--dump-registry", path]), 120,
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if rc != 0 or not os.path.isfile(path):
            fail("could not read the query registry", 3)
    with open(path) as f:
        return json.load(f)


# -------------------------------------------------------------- oracle

def duck(input_dir):
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{input_dir}/{t}.parquet/*.parquet')")
    return con


def canon(tbl):
    """(sorted columns, typed columns, rows, hash) of an arrow table, by
    tools/check_oracle.py's typed canonical hash."""
    import check_oracle as co
    cols = tbl.column_names
    types = {c: co.canon_type(tbl.schema.field(c).type) for c in cols}
    return {"cols": sorted(cols), "types": types, "rows": tbl.num_rows,
            "hash": co.table_hash(cols, co.rows_of(tbl))}


def gn_expected(con, reg):
    """q38's expected result on this input, by tools/gn_golden.py."""
    import tempfile
    import gn_golden
    import pyarrow as pa
    with tempfile.TemporaryDirectory(dir=WORK) as d:
        with open(os.path.join(d, "oracle_sql.json"), "w") as f:
            json.dump({"q37_betweenness":
                       reg["oracle_sql"]["q37_betweenness"]}, f)
        sql = gn_golden.edge_sql(d)
    edges = [(int(a), int(b)) for a, b in con.sql(sql).fetchall()]
    _, lines = gn_golden.golden_group(edges)
    rows = [ln.split()[1:] for ln in lines[1:]]
    return canon(pa.table({
        "community": pa.array([int(r[0]) for r in rows], pa.int64()),
        "csize": pa.array([int(r[1]) for r in rows], pa.int64()),
        "best_q": pa.array([float(r[2]) for r in rows], pa.float64())}))


def expected(names, reg, seed, src_hash, input_dir):
    """Expected canonical result per query, cached per seed and
    oracle_hash(); an oracle that failed is tried again next run."""
    path = os.path.join(WORK, "expected",
                        f"seed{seed}-{oracle_hash(src_hash)}.json")
    cache = {}
    if os.path.isfile(path):
        with open(path) as f:
            cache = {n: e for n, e in json.load(f).items()
                     if "oracle_error" not in e}
    todo = [n for n in names if n not in cache]
    if todo:
        con = duck(input_dir)
        sql = dict(reg["oracle_sql"], **STUB_ORACLE)
        for n in todo:
            if n in reg["self_gating"]:
                cache[n] = {"self_gating": True}
            elif n in GOLDEN_REPLAY:
                cache[n] = gn_expected(con, reg)
            elif n in sql:
                try:
                    cache[n] = canon(con.execute(sql[n]).arrow())
                except Exception as e:  # a broken oracle fails its query
                    cache[n] = {"oracle_error": str(e)[:300]}
            else:
                cache[n] = {"oracle_error": "no oracle and not self-gating"}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return cache


def check(out_dir, exp):
    """None when the parquet output in `out_dir` matches `exp`, else why
    not."""
    import pyarrow.parquet as pq
    if "oracle_error" in exp:
        return f"oracle: {exp['oracle_error']}"
    try:
        got = pq.read_table(out_dir)
    except Exception as e:
        return f"unreadable output: {e}"[:300]
    if exp.get("self_gating"):
        return None if got.num_rows > 0 else "self-gate emitted 0 rows"
    g = canon(got)
    if g["cols"] != exp["cols"]:
        return f"columns {g['cols']} != {exp['cols']}"
    if g["types"] != exp["types"]:
        return f"types {g['types']} != {exp['types']}"
    if g["rows"] != exp["rows"]:
        return f"rows {g['rows']} != {exp['rows']}"
    if g["hash"] != exp["hash"]:
        return "hash mismatch"
    return None


# ------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_passes(passes):
    """The warm passes; a run of one pass (--coverage) has only its cold
    one."""
    return [p for p in passes if p["kind"] == "warm"] or passes


def end_to_end(res, setup_s):
    passes = res["passes"]
    warm = warm_passes(passes)
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
    }


LAYER_UNITS = {"build_s": "s", "exec_s": "s", "jobs_build": "count",
               "jobs": "count", "task_cpu_s": "s", "shuffle_mb": "MB"}
ENGINE = [("spark.stages", "count"), ("spark.tasks", "count"),
          ("spark.gc_s", "s"), ("spark.spill_mb", "MB"),
          ("spark.sched_wait_s", "s"), ("spark.driver_only_s", "s"),
          ("spark.core_busy_frac", "ratio")]
STREAM_LAYERS = [("rows_per_s", "1/s"), ("add_batch_ms_p50", "ms"),
                 ("planning_ms_p50", "ms"), ("wal_commit_ms_p50", "ms")]


def per_layer_names():
    """Every per-layer metric with its unit, in BENCHMARK.json order. Each
    workload prints all of them; a layer it does not run reads 0."""
    out = [(f"{m}.{k}", u) for m in MODULES for k, u in LAYER_UNITS.items()]
    out += ENGINE
    out += [("codegen.compiles", "count"), ("codegen.compile_s", "s")]
    out += [(f"memo.build_s.{k}", "s") for k in MEMOS]
    out += [("plans.kernel_nodes", "count")]
    out += [("jvm.peak_rss_mb", "MB"), ("trace.warm_pass_s", "s")]
    out += [(f"stream.{s}.{k}", u) for s in STREAMS for k, u in STREAM_LAYERS]
    return out


def per_layer(res):
    """Per-layer metrics of a traced run: codegen over the cold pass (where
    compiles happen), Memo builds as built, everything else the median over
    the warm passes."""
    passes = res["passes"]
    warm = warm_passes(passes)
    units = dict(per_layer_names())
    out = {}
    for name, unit in units.items():
        if name.startswith(("codegen.", "memo.", "stream.", "trace.", "jvm.")):
            continue
        out[name] = (median([p["layers"][name] for p in warm]), unit)
    for k in ("codegen.compiles", "codegen.compile_s"):
        out[k] = (passes[0]["layers"][k], units[k])
    for k in MEMOS:
        out[f"memo.build_s.{k}"] = (res["memo_build_s"].get(k, 0.0), "s")
    for s in STREAMS:
        for k, u in STREAM_LAYERS:
            out[f"stream.{s}.{k}"] = (median(
                [x[k] for p in warm for x in p["streams"]
                 if x["name"] == s and k in x]), u)
    out["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    out["trace.warm_pass_s"] = (median([p["wall_s"] for p in warm]), "s")
    return out


# ----------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma-separated override of the "
                    "workload's queries (tests, diagnosis)")
    ap.add_argument("--coverage", action="store_true",
                    help="time every registered query of the workload's "
                         "module group once (one cold pass)")
    ap.add_argument("--record", help="directory for the full result record")
    a = ap.parse_args()
    t_start = time.time()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"not a source tree of this repo: {need} is missing "
                 f"under {ROOT}")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    src_hash = source_hash()
    cp = build(src_hash)
    reg = registry(cp, src_hash)
    spec = WORKLOADS[a.workload]
    streams = spec.get("streams", [])
    if a.queries:
        names = [n for n in a.queries.split(",") if n]
    elif a.coverage:
        names = sorted(n for n, m in reg["module_of"].items()
                       if m in COVERAGE.get(a.workload, []))
    else:
        names = [q for qs in spec.get("queries", {}).values() for q in qs]
    # the seed also fixes the query order within a pass
    random.Random(a.seed).shuffle(names)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    # inputs are staged fresh every run: staging is part of set-up
    t_stage = time.time()
    gen.stage(gen.corpus(TIMED_SF), input_dir, a.seed)
    stage_s = time.time() - t_stage

    exp = expected(names, reg, a.seed, src_hash, input_dir)

    cpus = nproc()
    heap_size = heap()
    out_dir = os.path.join(run_dir, "out")
    res_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(run_dir, "spans.jsonl")
    args = ["--workload", a.workload, "--input", input_dir,
            "--out", out_dir, "--result", res_path,
            "--spans", spans_path, "--seconds", str(a.seconds),
            "--settle", str(0 if a.coverage else spec["settle"]),
            "--min-warm", str(0 if a.coverage else MIN_WARM),
            "--max-passes", "1" if a.coverage else "50",
            "--trace", str(a.trace), "--cpus", str(cpus),
            "--queries", ",".join(names), "--streams", ",".join(streams)]
    load_before = loadavg()
    log_path = os.path.join(run_dir, "runner.log")
    t_launch = time.time()
    budget = 3600.0 if a.coverage else RUNNER_S
    try:
        with open(log_path, "w") as lf:
            rc = run_bounded(java_cmd(cp, heap_size, args), budget,
                             stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"runner exceeded {budget:.0f} s; see {log_path}", 4)
    load_after = loadavg()
    if rc != 0 or not os.path.isfile(res_path):
        fail(f"runner exited {rc}; see {log_path}", 4)
    with open(res_path) as f:
        res = json.load(f)

    # ---- checks: every query of every pass, every stream of every pass
    failed = {}
    for p in res["passes"]:
        for q in p["queries"]:
            why = q["error"] or check(
                os.path.join(out_dir, f"p{p['pass']}", q["name"]),
                exp[q["name"]])
            if why:
                failed.setdefault(q["name"], f"pass {p['pass']}: {why}")
        for s in p["streams"]:
            if s.get("error"):
                failed.setdefault(s["name"], f"pass {p['pass']}: {s['error']}")
    attempted = len(names) + len(streams)
    # a failed operation gives no sample: drop it from every pass's sums
    for p in res["passes"]:
        for q in p["queries"]:
            if q["name"] in failed:
                p["wall_s"] -= q["build_s"] + q["exec_s"]
        for s in p["streams"]:
            if s["name"] in failed:
                p["wall_s"] -= s["wall_s"]
    setup_s = stage_s + (res["session_ready_ms"] / 1000.0 - t_launch)
    metrics = per_layer(res) if a.trace else end_to_end(res, setup_s)

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "coverage": a.coverage,
        "sha": git_sha(), "source_hash": src_hash,
        "host_cpus": cpus, "heap": heap_size,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "conf": res["conf"], "conf_read_back": res["spark_conf_read_back"],
        "input": {"sf": TIMED_SF, "stage_s": stage_s},
        "queries": names, "streams": streams,
        "attempted": attempted, "failed": len(failed),
        "fail_frac": len(failed) / attempted if attempted else 0.0,
        "failed_ops": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
        "passes": [{"pass": p["pass"], "kind": p["kind"],
                    "wall_s": p["wall_s"],
                    "cpu_s": p["cpu_s"],
                    "queries": [q for q in p["queries"]
                                if q["name"] not in failed],
                    "streams": p["streams"]} for p in res["passes"]],
        "memo_build_s": res["memo_build_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "memory_pools": res["memory_pools"], "gc": res["gc"],
        "run_s": time.time() - t_start,
    }
    rec_dir = a.record or os.path.join(WORK, "results")
    os.makedirs(rec_dir, exist_ok=True)
    stem = (f"{a.workload}{'-coverage' if a.coverage else ''}-seed{a.seed}"
            f"-trace{a.trace}-{int(t_start)}")
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace and os.path.isfile(spans_path):
        shutil.copy(spans_path, os.path.join(rec_dir, stem + ".spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    for n, why in sorted(failed.items()):
        log(f"FAILED {n}: {why}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed),
                      "metrics": record["metrics"]}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
