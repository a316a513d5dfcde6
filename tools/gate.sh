#!/usr/bin/env bash
# Pre-commit compile gate. Run before EVERY commit.
#
# Three end-of-round snapshots (r6, r7, r9) failed to compile, and each one
# zeroed that round's driver certification: Verify never runs, so
# CORRECTNESS_r{N}.json is {} and every operator reads "untested" no matter
# how good the code is. The cheapest insurance is to never commit anything
# that hasn't passed BOTH compile configs — main sources (the Verify, Bench,
# DumpPlans and PlanSnap mains) and test sources (the spec suite) — plus the
# two guard specs that scan the source tree: one ingest seam per streaming
# operator, and one session builder (graft.Session, with its conf policy).
#
# Usage: tools/gate.sh   (exits non-zero if a compile or a guard fails)
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile Test/compile \
  "testOnly graft.streaming.SingleIngestSeamSpec graft.SingleSessionSpec"
echo "[gate] compile + Test/compile + static guards green — safe to commit"
