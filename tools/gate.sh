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
# It also runs the upsert sink's specs: UpsertSinkSpec, the concurrency
# property (readers scanning while a writer merges) and the fault-injection
# spec. The parquet upsert sink is the live path's one reproduced race: when
# a merge renamed the live state away, dashboard reads failed with
# FILE_NOT_EXIST (7 of 22 at perfbench seed 91). These specs fail if a
# publish ever again moves or deletes files a reader may still scan.
#
# And it runs QuerySelectionSpec (seconds, no Spark session): the query
# catalog is the registry Verify, Bench, the plan tools and the benchmark
# all read, and the spec checks its names are distinct and its views agree.
#
# And CdcFoldProperties (seconds, no Spark session): the fold is the CDC
# semantics that three processors share.
#
# Usage: tools/gate.sh   (exits non-zero if a compile, a guard, the catalog
#                         spec, the fold property or a sink spec fails)
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile Test/compile \
  "testOnly graft.streaming.SingleIngestSeamSpec graft.SingleSessionSpec graft.QuerySelectionSpec graft.streaming.CdcFoldProperties graft.streaming.UpsertSinkSpec graft.streaming.UpsertSinkProperties graft.streaming.UpsertSinkVersionsSpec"
echo "[gate] compile + Test/compile + static guards + catalog + CDC fold + upsert sink specs green — safe to commit"
