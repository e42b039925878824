#!/usr/bin/env python3
"""Steadiness tool: run a workload repeatedly and summarise each metric.

Run a set (one run per seed) and print, per metric, the median, the
quartiles, the quartile spread (Q3 - Q1) / median as
``statistics.quantiles(values, n=4)`` gives them, and the max/min spread:

    python3 graftbench/steady.py run --workload velib_hourly --seeds 1-10 --save a.json

Run two sets interleaved (A, B, A, B, ...), so that a drift of the host's
speed over the minutes a set takes falls on both sets alike:

    python3 graftbench/steady.py pair --workload velib_hourly \
        --seeds 1-10 --seeds-b 11-20 --save a.json --save-b b.json

Compare two sets of runs of the same tree (or of two trees): per metric,
both medians, the change of the second against the first as a share of
the first, both quartile spreads, and whether the change stays within the
metric's bound in BENCHMARK.json in either direction (a set of the same
tree must agree with the other whichever of the two comes first), and
each spread within it (``setup_s``'s spread is not bounded):

    python3 graftbench/steady.py compare a.json b.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def bench_config():
    path = os.path.join(ROOT, "BENCHMARK.json")
    return json.load(open(path)) if os.path.isfile(path) else {}


def run_one(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
        return {"seed": seed, "exit": p.returncode}
    final = json.loads(lines[-1])
    detail = next((json.loads(l[len("detail: "):]) for l in lines
                   if l.startswith("detail: ")), {})
    vals = " ".join(f"{k}={v['value']:.4g}" for k, v in final["metrics"].items())
    print(f"seed {seed}: correct={final['correct']} {vals}", file=sys.stderr, flush=True)
    return {"seed": seed, "exit": p.returncode, "result": final, "detail": detail}


def run_sets(workload, seed_lists, seconds, trace):
    """One set per seed list, run interleaved: the i-th run of every set,
    then the (i+1)-th."""
    sets = [{"workload": workload, "seconds": seconds, "trace": trace, "runs": []}
            for _ in seed_lists]
    for i in range(max(len(s) for s in seed_lists)):
        for rs, seeds in zip(sets, seed_lists):
            if i < len(seeds):
                rs["runs"].append(run_one(workload, seeds[i], seconds, trace))
    return sets


def values(runset):
    out = {}
    for r in runset["runs"]:
        for k, v in r.get("result", {}).get("metrics", {}).items():
            out.setdefault(k, []).append(v["value"])
    return out


def spread(xs):
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, med, med, 0.0, 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    rel = (q3 - q1) / med if med else float("inf")
    mm = (max(xs) - min(xs)) / med if med else float("inf")
    return med, q1, q3, rel, mm


def bounds():
    return {m["name"]: m for m in bench_config().get("end_to_end", [])}


def summarise(runset):
    b = bounds()
    ok = sum(1 for r in runset["runs"] if r.get("result", {}).get("correct"))
    print(f"{runset['workload']}: {len(runset['runs'])} runs, {ok} correct")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'max-min':>8} {'bound':>6}")
    for k, xs in sorted(values(runset).items()):
        med, q1, q3, rel, mm = spread(xs)
        bound = b.get(k, {}).get("bound")
        flag = "" if bound is None or k == "setup_s" or rel <= bound / 3 else "  > bound/3"
        print(f"{k:28} {med:12.5g} {q1:12.5g} {q3:12.5g} {rel:8.3f} {mm:8.3f} "
              f"{'' if bound is None else bound:>6}{flag}")


def compare(a, b):
    bs = bounds()
    va, vb = values(a), values(b)
    print(f"{a['workload']} vs {b['workload']}")
    print(f"{'metric':28} {'median A':>12} {'median B':>12} {'B vs A':>8} {'iqr A':>7} {'iqr B':>7} verdict")
    worst_ok = True
    for k in sorted(set(va) & set(vb)):
        ma, mb = statistics.median(va[k]), statistics.median(vb[k])
        change = (mb - ma) / ma if ma else 0.0
        m = bs.get(k)
        verdict = ""
        if m:
            iqr_ok = k == "setup_s" or (spread(va[k])[3] <= m["bound"] and spread(vb[k])[3] <= m["bound"])
            ok = abs(change) <= m["bound"] and iqr_ok
            worst_ok &= ok
            verdict = "ok" if ok else "OUT OF BOUND"
        print(f"{k:28} {ma:12.5g} {mb:12.5g} {change:+8.3f} {spread(va[k])[3]:7.3f} "
              f"{spread(vb[k])[3]:7.3f} {verdict}")
    return worst_ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int, default=bench_config().get("run_seconds", 20))
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--save")
    pr = sub.add_parser("pair")
    pr.add_argument("--workload", required=True)
    pr.add_argument("--seeds", default="1-10")
    pr.add_argument("--seeds-b", default="11-20")
    pr.add_argument("--seconds", type=int, default=bench_config().get("run_seconds", 20))
    pr.add_argument("--trace", type=int, default=0)
    pr.add_argument("--save", required=True)
    pr.add_argument("--save-b", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    if a.cmd == "run":
        rs, = run_sets(a.workload, [seeds_of(a.seeds)], a.seconds, a.trace)
        if a.save:
            with open(a.save, "w") as f:
                json.dump(rs, f, indent=1)
        summarise(rs)
    elif a.cmd == "pair":
        sets = run_sets(a.workload, [seeds_of(a.seeds), seeds_of(a.seeds_b)], a.seconds, a.trace)
        for rs, path in zip(sets, (a.save, a.save_b)):
            with open(path, "w") as f:
                json.dump(rs, f, indent=1)
            summarise(rs)
        sys.exit(0 if compare(*sets) else 1)
    else:
        ok = compare(json.load(open(a.first)), json.load(open(a.second)))
        sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
