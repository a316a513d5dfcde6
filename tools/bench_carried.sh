#!/usr/bin/env bash
# Equal-suite-size carried-set bench comparison (the recipe of §1 of
# `git show 4c95c6d:BENCH_NOTES_r18.md`, committed so every round reproduces
# carried ratios the right way by default).
#
# WHY: the r18 A/B isolated ONE reproducible cross-round drift mechanism —
# suite size. The same tree, same window, same 218 queries cost +7.3%
# inside a 235-query session vs a 218-query session (accumulated codegen /
# JIT / allocator session state that per-query System.gc() hygiene does not
# return). So a raw "old full run vs new full run" carried subtotal
# overstates drift by a term that GROWS with every round's new queries.
# The correct comparison runs BOTH trees restricted to the SHARED query
# set — equal suite size, same iteration order.
#
# Usage: tools/bench_carried.sh <old_ref> [sf_dir] [cpus]
#   old_ref  committed snapshot to compare against (e.g. the previous
#            round's end-of-round commit)
#   sf_dir   default /root/testdata/sf0.1
#   cpus     default 32
#
# The shared set is the intersection of the two trees' committed
# bench_out.json query inventories (every round commits one from its final
# tree). Output: .ab/carried_<ref>_{old,new}.json + a subtotal/gc summary.
# Window-class noise is real (the r17 tree's own same-set spread was 16%);
# if the ratio matters, re-run with the legs REVERSED and read both.
set -euo pipefail
cd "$(dirname "$0")/.."

OLD_REF="${1:?usage: tools/bench_carried.sh <old_ref> [sf_dir] [cpus]}"
SF_DIR="${2:-/root/testdata/sf0.1}"
CPUS="${3:-32}"
SHORT=$(git rev-parse --short "$OLD_REF")
WT=".ab/carried_$SHORT"

mkdir -p .ab
[ -d "$WT" ] || git worktree add "$WT" "$OLD_REF"

SHARED=$(python3 - "$WT/bench_out.json" bench_out.json <<'EOF'
import json, sys
old = set(json.load(open(sys.argv[1]))["queries"])
new = set(json.load(open(sys.argv[2]))["queries"])
print(",".join(sorted(old & new)))
EOF
)
N=$(awk -F',' '{print NF}' <<<"$SHARED")
echo "[carried] shared set: $N queries"

run() { # run <tree_dir> <out_json>
  ( cd "$1" && SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
      SPARK_GRAFT_ONLY="$SHARED" sbt -batch "runMain graft.Bench" 2>&1 \
    | grep -o '{"metric":"total".*}' ) > "$2"
  python3 - "$2" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
print(f"[carried] {sys.argv[1]}: total {d['value']:.1f} s over "
      f"{len(d['queries'])} queries, gc {d['gc_total']:.1f} s")
EOF
}

echo "[carried] old leg ($SHORT) first, new leg second — rerun reversed if the ratio matters"
run "$WT" ".ab/carried_${SHORT}_old.json"
run "."   ".ab/carried_${SHORT}_new.json"

python3 - ".ab/carried_${SHORT}_old.json" ".ab/carried_${SHORT}_new.json" <<'EOF'
import json, sys
o = json.load(open(sys.argv[1])); n = json.load(open(sys.argv[2]))
assert set(o["queries"]) == set(n["queries"]), "leg query sets differ"
ro, rn = o["value"], n["value"]
print(f"[carried] ratio new/old = {rn/ro:.3f}  ({ro:.1f} s -> {rn:.1f} s, "
      f"gc {o['gc_total']:.1f} -> {n['gc_total']:.1f})")
movers = sorted(((n["queries"][q] - o["queries"][q], q) for q in o["queries"]),
                reverse=True)[:5]
print("[carried] top movers (s):",
      ", ".join(f"{q} {d:+.2f}" for d, q in movers))
EOF
