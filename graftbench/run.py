#!/usr/bin/env python3
"""graft's benchmark: one workload, one closed-loop client, one JSON line.

    python3 graftbench/run.py --workload velib_hourly --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark JVM from source (``graftbench/scala``, sbt); later runs
reuse the build while the sources are unchanged. The inputs are made
from ``--seed`` by ``gen.py``; the benchmark JVM (``graftbench.Main``) runs
the workload on ``local[<cores>]``; its observations are then checked
against the generator's ledger. The last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``detail: {...}``) carries the
workload-specific timings, percentiles and sample counts.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = ("velib_hourly", "velib_backfill")
HOURLY_HOURS = 40          # generated hours; a run uses about 20
BACKFILL_HOURS = 168       # one slice: a week, ~248k raw station rows
BACKFILL_PER_FILE = 12     # snapshots per raw-zone JSON-lines file
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "scala", "src")):
        for p in glob.glob(os.path.join(d, "**", "*"), recursive=True):
            if os.path.isfile(p):
                files.append(p)
    files += [os.path.join(BENCH, "scala", "build.sbt"),
              os.path.join(BENCH, "scala", "project", "build.properties")]
    return sorted(files)


def spark_home():
    """The Spark install whose jars graft compiles and runs against:
    $SPARK_HOME, else the first spark-submit on the PATH that sits in an
    install with a jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")


def build():
    """Compile graft's sources and the benchmark JVM; skip when unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BENCH, "scala", "target", "graftbench.stamp")
    classes = os.path.join(BENCH, "scala", "target", "scala-2.13", "classes")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(classes):
        return classes
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building graft and the benchmark JVM (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=os.path.join(BENCH, "scala"), env=env,
                       stdin=subprocess.DEVNULL, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


# ------------------------------------------------------------- helpers

def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """Highest percentile with at least 10 samples beyond it: with n
    samples that is the (n-10)/n quantile (nearest rank). None when
    there are 10 samples or fewer."""
    n = len(xs)
    if n <= 10:
        return None
    k = n - 10
    return {"percentile": round(100.0 * k / n, 1), "value": sorted(xs)[k - 1],
            "samples": n, "beyond": 10}


def timing(xs):
    return {"p50": median(xs), "samples": len(xs), "tail": tail(xs), "values": xs}


def cpus():
    n = os.cpu_count() or 1
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    return n


# -------------------------------------------------------------- checks

class Checks:
    def __init__(self):
        self.failures = []

    def eq(self, what, got, want):
        if str(got) != str(want):
            self.failures.append(f"{what}: got {got}, want {want}")


def check_hourly(res, ledger, ck):
    obs = res["observed"]
    rows = {e["hour"]: e for e in ledger["hours"]}
    hours = [int(h) for h in obs.get("hours", "").split(",") if h]
    ck.eq("hours processed", len(hours) > 0, True)
    epochs = set()
    for h in hours:
        e = rows[h]
        ep = e["snapshot_epoch"]  # the run's execution_date
        epochs.add(str(ep))
        ck.eq(f"hour {h} BranchResult curated rows", obs.get(f"hour.{h}.branch_curated_rows"), e["curated_rows"])
        ck.eq(f"hour {h} weather rows", obs.get(f"hour.{h}.weather_rows"), 1)
        ck.eq(f"hour {h} curated rows in zone", obs.get(f"epoch.{ep}.curated_rows"), e["curated_rows"])
        ck.eq(f"hour {h} curated digest", obs.get(f"epoch.{ep}.curated_digest"), e["curated_digest"])
        raw = int(obs.get(f"epoch.{ep}.raw_rows", -1))
        ck.eq(f"hour {h} landed raw station rows", raw, e["raw_rows"])
        # conservation: raw = curated + dedup-dropped
        ck.eq(f"hour {h} raw = curated + dropped",
              raw, int(obs.get(f"epoch.{ep}.curated_rows", -1)) + (e["raw_rows"] - e["curated_rows"]))
        ck.eq(f"hour {h} warehouse rows", obs.get(f"jdbc.h{h}.rows"), e["curated_rows"])
        if f"hour.{h}.read_groups" in obs:
            ck.eq(f"hour {h} hourlyAvailability rows", obs[f"hour.{h}.read_groups"], e["hourly_groups_cum"])
            ck.eq(f"hour {h} latestPerStation rows", obs[f"hour.{h}.read_stations"], e["stations_cum"])
    zone = {k.split(".")[1] for k in obs if k.startswith("epoch.") and k.endswith(".curated_rows")}
    ck.eq("hours in the curated zone", sorted(zone), sorted(epochs))
    if hours:
        last = rows[max(hours)]
        ck.eq("stream rows", obs.get("stream.rows"), last["stream_rows_cum"])
        ck.eq("stream key digest", obs.get("stream.digest"), last["stream_digest_cum"])


def check_backfill(res, ledger, ck):
    obs = res["observed"]
    ck.eq("slice raw station rows", obs.get("raw_rows"), ledger["raw_rows"])
    ck.eq("last replay curated rows", obs.get("last.curated_rows"), ledger["curated_rows"])
    ck.eq("last replay curated digest", obs.get("last.curated_digest"), ledger["curated_digest"])
    # conservation: raw = curated + dedup-dropped
    ck.eq("raw = curated + dropped", obs.get("raw_rows"),
          int(obs.get("last.curated_rows", -1)) + ledger["raw_rows"] - ledger["curated_rows"])
    # the stream run over the slice keeps one row per key
    ck.eq("last replay stream rows", obs.get("last.stream_rows"), ledger["curated_rows"])
    ck.eq("last replay stream key digest", obs.get("last.stream_digest"), ledger["stream_digest"])
    ck.eq(f"warehouse rows of {ledger['load_day']}", obs.get("jdbc.day.rows"), ledger["load_day_rows"])
    j = 0
    while f"replay.{j}.observed_rows" in obs:
        ck.eq(f"replay {j} curated rows", obs[f"replay.{j}.observed_rows"], ledger["curated_rows"])
        ck.eq(f"replay {j} stream rows", obs.get(f"replay.{j}.stream_rows"), ledger["curated_rows"])
        ck.eq(f"replay {j} hourlyAvailability rows", obs.get(f"replay.{j}.read_groups"), ledger["hourly_groups"])
        ck.eq(f"replay {j} latestPerStation rows", obs.get(f"replay.{j}.read_stations"), ledger["stations"])
        j += 1
    ck.eq("replays checked", j > 0, True)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    t_setup = time.time()  # setup_s starts here: generation, JVM, session, warm-up
    work = os.path.join(ROOT, ".graftbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp = os.path.join(work, "input")
    ledger = None
    if a.workload == "velib_hourly":
        ledger = gen.generate_hourly(inp, a.seed, HOURLY_HOURS)
        with open(os.path.join(inp, "hours.tsv"), "w") as f:
            for e in ledger["hours"]:
                f.write(f"{e['hour']}\t{e['snapshot_epoch']}\t{e['raw_rows']}\n")
    elif a.workload == "velib_backfill":
        ledger = gen.generate_backfill(inp, a.seed, BACKFILL_HOURS, BACKFILL_PER_FILE)
        with open(os.path.join(inp, "slice.tsv"), "w") as f:
            f.write(f"{ledger['raw_rows']}\t{ledger['load_day']}\n")
    gen_s = time.time() - t_setup
    log(f"generated inputs in {gen_s:.1f} s")

    spark_jars = os.path.join(spark_home(), "jars", "*")
    opens = [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    result_file = os.path.join(work, "result.json")
    n_cpus = cpus()
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *opens,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dgraft.repo.root={ROOT}",
           "-cp", f"{classes}:{spark_jars}", "graftbench.Main",
           a.workload, str(a.seconds), str(a.trace), work,
           str(int(t_setup * 1000)), result_file, str(n_cpus)]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        try:
            r = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                               stdout=jlog, stderr=jlog, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {work}/jvm.log", 3)
    if r.returncode != 0 or not os.path.isfile(result_file):
        os.system(f"tail -40 '{work}/jvm.log' >&2")
        fail(f"benchmark JVM failed (exit {r.returncode}); log: {work}/jvm.log", 3)
    res = json.load(open(result_file))
    log(f"benchmark JVM done {time.time() - t_setup:.1f} s after set-up start")

    ck = Checks()
    for e in res["errors"]:
        ck.failures.append(f"op failed: {e}")
    if a.workload == "velib_hourly":
        check_hourly(res, ledger, ck)
    else:
        check_backfill(res, ledger, ck)

    s = res["samples"]
    ops = s.get("op", [])
    detail = {
        "workload": a.workload, "seed": a.seed, "cpus": n_cpus,
        "generate_s": gen_s, "run_s": res["run_s"], "ops": len(ops),
        "rows_per_s": res["raw_rows"] / res["rows_op_s"] if res["rows_op_s"] else None,
    }
    for step in ("op", "stream", "load", "read"):
        detail[step] = timing(s.get(step, []))
    if "trace_overhead" in s:
        detail["trace_overhead_s"] = s["trace_overhead"][0]
    print("detail: " + json.dumps(detail), flush=True)

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
        metrics["trace.overhead_s"] = {"value": s.get("trace_overhead", [0.0])[0], "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "op_p50_s": {"value": detail["op"]["p50"], "unit": "s"},
            "rows_per_s": {"value": detail["rows_per_s"], "unit": "rows/s"},
            "stream_p50_s": {"value": detail["stream"]["p50"], "unit": "s"},
            "load_p50_s": {"value": detail["load"]["p50"], "unit": "s"},
            "read_p50_s": {"value": detail["read"]["p50"], "unit": "s"},
            "driver_heap_mb": {"value": res["driver_heap_mb"], "unit": "MB"},
        }
    correct = not ck.failures
    log(f"checks done {time.time() - t_setup:.1f} s after set-up start")
    for f in ck.failures[:50]:
        log(f"CHECK FAILED {f}")
    if not os.environ.get("GRAFTBENCH_KEEP"):
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


def unit_of(name):
    for suffix, unit in (("_per_s", "rows/s"), ("bytes_per_row", "bytes/row"),
                         ("_ms", "ms"), ("_s", "s"), ("bytes", "bytes"),
                         ("_share", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
