#!/bin/bash
# Round-close gate: full suite, correctness at sf0.01 + sf0.1, bench at
# sf0.1, the 10x scale replica, and the per-query 10x/1x ratio gate
# (r15 #7 — round 16 shipped its scale fix without re-running 10x; this
# script is why that can't happen silently again). Exits non-zero if any
# stage fails, INCLUDING a ratio-gate breach.
#
# Usage: scale/run_close_gate.sh <round-tag>   (e.g. r23)
# The tag names every log and committed close artifact, so one round's run
# never overwrites another's.
R=${1:?usage: scale/run_close_gate.sh <round-tag> (e.g. r23)}
set -x
cd "$(dirname "$0")/.."
RC_ALL=0
# a re-run with the same tag starts a fresh status file
: > /tmp/${R}c_status.log
step() { echo "STEP_$1_RC=$2" >> /tmp/${R}c_status.log; [ "$2" -ne 0 ] && RC_ALL=1; }

sbt -batch test > /tmp/${R}c_test.log 2>&1; step TEST $?
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/${R}c_v001" > /tmp/${R}c_v001.log 2>&1; step V001 $?
python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/${R}c_v001 > /tmp/${R}c_o001.log 2>&1; step O001 $?
tail -1 /tmp/${R}c_o001.log >> /tmp/${R}c_status.log
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/${R}c_v01" > /tmp/${R}c_v01.log 2>&1; step V01 $?
python3 tools/oracle_check.py /root/testdata/sf0.1 /tmp/${R}c_v01 > /tmp/${R}c_o01.log 2>&1; step O01 $?
tail -1 /tmp/${R}c_o01.log >> /tmp/${R}c_status.log

# remove the detail target first: Bench writes it best-effort, and a stale
# leftover from a prior run must fail the cp below, not masquerade as fresh
rm -f scale/bench_detail_sf0.1.json
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" > /tmp/${R}c_bench.log 2>&1; step BENCH $?
grep '"metric":"total"' /tmp/${R}c_bench.log | tail -1 > scale/bench_sf0.1_${R}_close.json
# unchecked cp would let the ratio gate compare a STALE committed detail
# from a prior round and still print "gate clean" — fail the step instead
cp scale/bench_detail_sf0.1.json scale/bench_detail_sf0.1_${R}_close.json; step DETAIL1X $?

# the replica lives in this checkout (basename scale10x, so Bench's detail
# file keeps its name), never in another checkout's tree
sbt -batch "runMain graft.ScaleGen /root/testdata/sf0.1 $PWD/scale10x" > /tmp/${R}c_scalegen.log 2>&1; step SCALEGEN $?
rm -f scale/bench_detail_scale10x.json
SPARK_GRAFT_SF_DIR=$PWD/scale10x SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" > /tmp/${R}c_bench10x.log 2>&1; step BENCH10X $?
grep '"metric":"total"' /tmp/${R}c_bench10x.log | tail -1 > scale/bench_10x_${R}_close.json
cp scale/bench_detail_scale10x.json scale/bench_detail_10x_${R}_close.json; step DETAIL10X $?

# the per-query scale-ratio gate: 10x data must not cost >8x time on any
# query with a >=0.5s base — a breach is a named super-linear term.
# WAIVED: q_dedup_simhash — 16-bit-chunk banding's candidate count IS the
# output semantics; a same-domain corpus concentrates fingerprints into hot
# chunks, so candidates (and wall-clock) grow ~quadratically with corpus by
# construction. The salt guard bounds per-task work (no straggler), and the
# ~10x ratio at 10x data is the collision rate, not a plan defect.
# (r17's q_dedup_semdedup(_text) waivers RETIRED in r18; r19 retired the
# rest of the dedup-family superlinearity by engineering, not waivers:
# id-only pair shuffles + band dfCap for MinHash-LSH, fixed centroid
# budget + native L2 + salted anchors for SemDeDup. q_dedup_minhash's
# residual ~5x ratio is OUTPUT-driven — the 10x replica genuinely has
# ~50x more near-dup pairs and the query LISTS them; the production
# cluster/apply chain is ≤3x — and sits well inside the 8x gate.)
#
# TAIL REGISTER (r19 verdict #2; re-measured r22 across TWO clean gate
# pairs — the r20 verdict #3 reconciliation: entries now carry the
# measured BAND and each run's load band is printed by the ratio gate
# itself, so a loaded-machine ratio is distinguishable from a real
# super-linear term without re-running). Apply-family ratios INSIDE the
# 8x gate but at/around the ~3x cluster target, each with its named
# data-driven term. Registered, not waived — they still fail the gate if
# they breach 8x; re-justify if the corpus shape shifts.
#   q_dedup_substring_apply  BAND 4.6-5.0x (r22 gates; r20 register said
#     4.5x bench / 2.9x warm and the r20 close gate measured 5.8x at
#     load 7.2 — the r22 band with printed loads supersedes the point
#     numbers). The flagged join+collect is OUTPUT-proportional: the 10x
#     replica is ~90% duplicated, flagged fraction -> 1.0, and every
#     flagged occurrence must reach its doc to be cut. Stage decomposition
#     in SpanDedup.dedupApply's scaladoc: owners agg 2.0x linear, flagged
#     join+collect 3.0x. A per-hash df cap is inapplicable (replica df~10).
#   q_dedup_winnow_apply     BAND 2.6-3.8x (r22 gates, 10x legs at load
#     mean 7.2-7.9; r20: 3.0x) — apply-family shape: the loser join's row
#     count IS the near-dup mass (~50x pairs at 10x by replica
#     construction); dfCap=64 bounds per-bucket work, the residual term is
#     output-proportional. The r22 seeded components init removed one full
#     edge-set propagation round from this chain at every scale.
#   q_dedup_apply_lsh        BAND 2.5-2.9x (r22 gates; the r20 close gate
#     measured 3.9x and the r20 verdict asked for <=3x or a register
#     entry — the seeded components init plus the one-pass edge mirror
#     brought it back under 3x by engineering; registered here so the
#     band stays watched).
#   q_mm_dedup_phash_apply   BAND 2.6-3.3x (r22 gates; the 3.3x leg ran
#     at 10x load mean 7.9 — r20: 2.6x). Decode work is equal per row at
#     both scales; the eager cache prefill (r22) removed the racing-fill
#     lock convoy from the three consumer stages.
python3 tools/scale_ratio_gate.py \
  --waive q_dedup_simhash \
  scale/bench_detail_sf0.1_${R}_close.json \
  scale/bench_detail_10x_${R}_close.json > scale/ratios_${R}_close.txt 2>&1; step RATIO $?
tail -3 scale/ratios_${R}_close.txt >> /tmp/${R}c_status.log

echo "DONE RC_ALL=$RC_ALL" >> /tmp/${R}c_status.log
exit $RC_ALL
