#!/usr/bin/env python3
"""Repeated runs of the benchmark, their spread, and the A/B verdict.

    # ten seeds of one workload on this checkout; prints each metric's spread
    python3 perfbench/compare.py runs --workload sketch_build --seeds 10 --out a.jsonl
    python3 perfbench/compare.py spread a.jsonl

    # alternating pairs of a parent and a change checkout, then the verdict
    python3 perfbench/compare.py pairs --parent ../parent --change . \\
        --workload dashboard_live --pairs 10 --out ab.jsonl
    python3 perfbench/compare.py judge ab.jsonl

`pairs` runs the same seed on both sides of a pair and alternates which side
runs first. Both checkouts must hold the same benchmark (perfbench/ and
BENCHMARK.json), so that only the program differs.

`judge` applies the rule for claiming a gain: at least ten pairs, the change
better in at least nine tenths of them (ties count for neither), and the
medians further apart than the parent's own inter-quartile spread. Every
end-to-end metric of every workload in the file gets one verdict:
improved, unchanged, worse (the change's median is worse than the parent's
by more than the metric's bound) or unresolved (the parent's spread is wider
than the bound and not every change run beats every parent run, or there are
fewer than ten pairs). A gain does not count when the change fails more
operations than the parent: then every metric of that workload is worse.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(checkout, workload, seed):
    s = spec()
    cmd = s["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(s["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("compare.py: run failed in %s (workload %s, seed %d)" % (checkout, workload, seed))
    res = json.loads(lines[-1])
    # the report line's figures, "name=value unit, ...", kept beside the result
    report = next((l[len("report "):] for l in lines if l.startswith("report ")), "")
    res["report"] = {k: float(v.split()[0]) for k, v in
                     (f.split("=", 1) for f in report.split(", ") if "=" in f)
                     if v.split()[0] != "n/a"}
    return res


def bench_digest(checkout):
    h = hashlib.sha256()
    h.update(open(os.path.join(checkout, "BENCHMARK.json"), "rb").read())
    top = os.path.join(checkout, "perfbench")
    for d, _, files in sorted(os.walk(top)):
        for f in sorted(files):
            if f.endswith((".py", ".scala", ".md")):
                h.update(os.path.relpath(os.path.join(d, f), top).encode())
                h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()


def write(out, rec):
    with open(out, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def cmd_runs(a):
    for i in range(a.seeds):
        seed = a.seed_base + i
        res = run_once(ROOT, a.workload, seed)
        write(a.out, {"workload": a.workload, "seed": seed, "result": res})
        print("%s seed %d: %s" % (a.workload, seed, json.dumps(res["metrics"])), flush=True)


def cmd_spread(a):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    recs = load(a.file)
    worst = 0.0
    for w in sorted({r["workload"] for r in recs}):
        rs = [r["result"] for r in recs if r["workload"] == w]
        print("%s (%d runs)" % (w, len(rs)))
        figures = {k: [r["metrics"][k]["value"] for r in rs] for k in rs[0]["metrics"]}
        for k in rs[0].get("report", {}):
            xs = [r["report"][k] for r in rs if k in r.get("report", {})]
            if k not in figures and len(xs) == len(rs):
                figures["report." + k] = xs
        for name, xs in sorted(figures.items()):
            q1, med, q3 = quartiles(xs)
            sp = (q3 - q1) / med if med else float("inf")
            b = bounds.get(name)
            flag = ""
            if b is not None:
                worst = max(worst, sp / b)
                flag = "  ok" if sp < b / 3 else ("  within bound" if sp <= b else "  OVER BOUND")
            print("  %-30s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.4f%s" % (
                name, med, q1, q3, sp, ("  (bound %g)%s" % (b, flag)) if b is not None else ""))
    print("largest spread / bound: %.3f" % worst)


def cmd_pairs(a):
    if bench_digest(a.parent) != bench_digest(a.change):
        sys.exit("compare.py: the two checkouts hold different benchmarks; copy perfbench/ "
                 "and BENCHMARK.json from one into the other first")
    for i in range(a.pairs):
        seed = a.seed_base + i
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        for pos, (side, checkout) in enumerate(order):
            res = run_once(checkout, a.workload, seed)
            write(a.out, {"workload": a.workload, "seed": seed, "pair": i, "side": side,
                          "first": pos == 0, "result": res})
            print("pair %d %s: %s" % (i, side, json.dumps(res["metrics"])), flush=True)


def verdict(name, better, bound, parent, change, extra_failures):
    sign = 1.0 if better == "higher" else -1.0
    pv = [p["metrics"][name]["value"] for p in parent]
    cv = [c["metrics"][name]["value"] for c in change]
    pq1, pmed, pq3 = quartiles(pv)
    _, cmed, _ = quartiles(cv)
    wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
    n = len(pv)
    gap = sign * (cmed - pmed)
    spread = (pq3 - pq1) / pmed if pmed else float("inf")
    line = "parent %.6g [%.6g, %.6g], change %.6g, change better in %d/%d pairs" % (
        pmed, pq1, pq3, cmed, wins, n)
    if extra_failures > 0:
        return "worse", line + " (the change fails %d more operations)" % extra_failures
    if n < 10:
        return "unresolved", line + " (fewer than 10 pairs)"
    if wins >= 0.9 * n and gap > (pq3 - pq1):
        return "improved", line
    if -gap > bound * abs(pmed):
        return "worse", line
    if spread > bound and not min(sign * c for c in cv) > max(sign * p for p in pv):
        return "unresolved", line + " (parent spread %.3f over bound %g)" % (spread, bound)
    return "unchanged", line


def cmd_judge(a):
    recs = load(a.file)
    for w in sorted({r["workload"] for r in recs}):
        by_pair = {}
        for r in recs:
            if r["workload"] == w:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = [v for _, v in sorted(by_pair.items()) if len(v) == 2]
        parent = [p["parent"] for p in pairs]
        change = [p["change"] for p in pairs]
        extra = sum(c["failed"] for c in change) - sum(p["failed"] for p in parent)
        print("%s: %d pairs" % (w, len(pairs)))
        for m in spec()["end_to_end"]:
            v, line = verdict(m["name"], m["better"], m["bound"], parent, change, extra)
            print("  %-12s %-10s %s" % (m["name"], v, line))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs", help="run this checkout on consecutive seeds")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", type=int, default=10)
    r.add_argument("--seed-base", type=int, default=1)
    r.add_argument("--out", required=True)
    s = sub.add_parser("spread", help="quartile spread of each metric in a runs file")
    s.add_argument("file")
    p = sub.add_parser("pairs", help="alternating parent/change pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed-base", type=int, default=1)
    p.add_argument("--out", required=True)
    j = sub.add_parser("judge", help="verdict per end-to-end metric and workload")
    j.add_argument("file")
    a = ap.parse_args()
    {"runs": cmd_runs, "spread": cmd_spread, "pairs": cmd_pairs, "judge": cmd_judge}[a.cmd](a)


if __name__ == "__main__":
    main()
