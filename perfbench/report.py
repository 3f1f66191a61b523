#!/usr/bin/env python3
"""Summaries and comparisons of benchmark result records.

    python3 perfbench/report.py summary DIR [DIR ...]
    python3 perfbench/report.py compare BASE_DIR NEW_DIR [--cross-host]

A record is the JSON file run.py writes for every run (one workload, one
seed); the summaries group them by workload and traced/untraced.

`summary` gives, per workload and metric, the sample count, the median,
the quartiles (statistics.quantiles(n=4)) and the spread: the distance
between the quartiles as a share of the median. Each end-to-end spread is
set against its bound in BENCHMARK.json (steady: below a third of it). It
also reports each workload's failed operations by name and the tracing
overhead: traced warm_pass_s (per-layer trace.warm_pass_s) over untraced
warm_pass_s, both medians.

`compare` sets the medians of NEW against BASE per workload and
end-to-end metric, flagging a change worse than the metric's bound. It
refuses records from hosts with a different CPU count (`host_cpus`),
unless --cross-host is given, and then labels the comparison cross-host.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(dirs):
    recs = []
    for d in dirs:
        for p in sorted(glob.glob(os.path.join(d, "*.json"))):
            with open(p) as f:
                r = json.load(f)
            if isinstance(r, dict) and "workload" in r and "metrics" in r:
                if not r.get("coverage"):
                    recs.append(r)
    return recs


def bounds():
    """The end-to-end metrics of BENCHMARK.json, by name."""
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return {m["name"]: m for m in json.load(f).get("end_to_end", [])}


def stats(values):
    """(n, median, q1, q3, spread); quartiles need two values."""
    med = statistics.median(values)
    if len(values) < 2:
        return len(values), med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return len(values), med, q1, q3, (q3 - q1) / med if med else 0.0


def groups(recs):
    out = {}
    for r in recs:
        out.setdefault((r["workload"], r["trace"]), []).append(r)
    return out


def series(rs, name):
    return [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]


def summary(recs, out=sys.stdout):
    e2e = bounds()
    g = groups(recs)
    for (wl, tr), rs in sorted(g.items()):
        cpus = sorted({r["host_cpus"] for r in rs})
        print(f"\n== {wl} ({'traced' if tr else 'untraced'}; {len(rs)} runs;"
              f" seeds {sorted(r['seed'] for r in rs)}; host_cpus {cpus})",
              file=out)
        failed = {}
        for r in rs:
            for n, why in r.get("failed_ops", {}).items():
                failed.setdefault(n, why)
        att = sum(r["attempted"] for r in rs)
        nf = sum(r["failed"] for r in rs)
        print(f"fail_frac {nf}/{att}" + (f" failed: {sorted(failed)}"
                                         if failed else ""), file=out)
        names = sorted({k for r in rs for k in r["metrics"]})
        if not tr:
            names = [n for n in e2e if n in names] + \
                    [n for n in names if n not in e2e]
        print(f"{'metric':42s} {'n':>3s} {'median':>12s} {'q1':>12s} "
              f"{'q3':>12s} {'spread':>7s}  bound", file=out)
        for n in names:
            vals = series(rs, n)
            if not vals:
                continue
            k, med, q1, q3, sp = stats(vals)
            b = e2e.get(n, {}).get("bound")
            mark = "" if b is None else f"  {b:.2f} " + (
                "ok" if sp < b / 3 else "WIDE" if sp > b else "steady>b/3")
            print(f"{n:42s} {k:3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:7.3f}{mark}", file=out)
    for wl in sorted({w for w, _ in g}):
        un = series(g.get((wl, 0), []), "warm_pass_s")
        tr = series(g.get((wl, 1), []), "trace.warm_pass_s")
        if un and tr:
            mu, mt = statistics.median(un), statistics.median(tr)
            print(f"\ntracing overhead {wl}: traced warm_pass_s {mt:.3f} s "
                  f"vs untraced {mu:.3f} s = {100 * (mt - mu) / mu:+.1f}%",
                  file=out)


def compare(base, new, cross_host, out=sys.stdout):
    e2e = bounds()
    cb = {r["host_cpus"] for r in base}
    cn = {r["host_cpus"] for r in new}
    label = ""
    if cb != cn or len(cb) != 1:
        if not cross_host:
            print(f"refused: host_cpus differ (base {sorted(cb)}, new "
                  f"{sorted(cn)}); pass --cross-host to compare anyway",
                  file=out)
            return 2
        label = " [CROSS-HOST: not a same-host comparison]"
    gb, gn = groups(base), groups(new)
    worse = 0
    for key in sorted(set(gb) & set(gn)):
        wl, tr = key
        if tr:
            continue
        print(f"\n== {wl}{label}", file=out)
        for n, spec in e2e.items():
            vb, vn = series(gb[key], n), series(gn[key], n)
            if not vb or not vn:
                continue
            mb, mn = statistics.median(vb), statistics.median(vn)
            rel = (mn - mb) / mb if mb else 0.0
            if spec["better"] == "higher":
                rel = -rel
            flag = "WORSE" if rel > spec["bound"] else ""
            worse += bool(flag)
            print(f"{n:16s} base {mb:12.4f}  new {mn:12.4f}  "
                  f"{100 * rel:+7.1f}% worse-direction  bound "
                  f"{100 * spec['bound']:.0f}% {flag}", file=out)
    return 1 if worse else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("summary")
    s.add_argument("dirs", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    c.add_argument("--cross-host", action="store_true")
    a = ap.parse_args()
    if a.cmd == "summary":
        summary(load(a.dirs))
        return 0
    return compare(load([a.base]), load([a.new]), a.cross_host)


if __name__ == "__main__":
    sys.exit(main())
