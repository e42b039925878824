#!/usr/bin/env bash
# Scale-slope gate (r12): run the full Bench at sf0.01 in a scratch
# CWD (so the repo's bench_total.json is never clobbered) and compare
# per-query times against the committed sf0.1 artifact. With 10x the
# data, a healthy registry query scales at <= ~10x; anything past the
# threshold (default 15x, leaving headroom for index-growth shapes
# like PPJoin's 9.1x) is flagged as a
# superlinear suspect — the empirical backstop for the 100 TB design
# claim the per-plan audits argue structurally.
#
# Usage: scripts/scale_slope.sh [threshold]   (default 15)
# Exit 1 if any timed-meaningful query (>= 1 s at sf0.1) exceeds the
# threshold. STATUS.md quotes the worst-slopes table per round.
set -euo pipefail
cd "$(dirname "$0")/.."
THRESH="${1:-15}"

sbt -batch compile >/dev/null

JOPTS=""
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
  java.util java.util.concurrent java.util.concurrent.atomic; do
  JOPTS="$JOPTS --add-opens=java.base/$m=ALL-UNNAMED"
done
JOPTS="$JOPTS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens=java.base/sun.security.action=ALL-UNNAMED \
 --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

SCRATCH="$(mktemp -d /tmp/scale_slope.XXXXXX)"
echo "[scale-slope] sf0.01 bench in $SCRATCH (repo artifacts untouched)"
( cd "$SCRATCH" && \
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_CPUS=32 \
  GRAFT_REPO_ROOT="$OLDPWD" \
  java -cp "$OLDPWD/target/scala-2.13/classes:/opt/spark/jars/*" $JOPTS \
  graft.Bench >"$SCRATCH/out.log" 2>"$SCRATCH/err.log" )

python3 - "$SCRATCH/bench_total.json" bench_total.json "$THRESH" <<'EOF'
import json, sys
small = json.load(open(sys.argv[1]))
big = json.load(open(sys.argv[2]))
thresh = float(sys.argv[3])
if big.get("sf") != "/root/testdata/sf0.1":
    sys.exit("committed bench_total.json is not an sf0.1 artifact; "
             "run the full sf0.1 bench first")
rows = []
for k, tb in big["queries"].items():
    ts = small["queries"].get(k)
    # fixed-cost-dominated fast queries carry no slope signal
    if ts is not None and tb >= 1.0 and ts > 0.05:
        rows.append((tb / ts, k, ts, tb))
rows.sort(reverse=True)
print(f"[scale-slope] sf0.01 total {small['value']:.1f} s vs committed sf0.1 "
      f"{big['value']:.1f} s; worst slopes over 10x data:")
for r, k, ts, tb in rows[:10]:
    print(f"  {k:26s} {r:5.1f}x  ({ts:.2f} -> {tb:.2f} s)")
bad = [(k, round(r, 1)) for r, k, _, _ in rows if r > thresh]
if bad:
    print(f"[scale-slope] SUPERLINEAR suspects (> {thresh}x): {bad}")
    sys.exit(1)
print(f"[scale-slope] OK: no query exceeds {thresh}x at 10x data")
EOF
