#!/usr/bin/env bash
# One-command gate: everything the driver's round gate checks, locally.
#
#   tools/gate.sh            # full: sbt test + correctness mirror + scan budget + bench + cross-round diff
#   SKIP_BENCH=1 tools/gate.sh   # faster inner loop (no sf0.1 bench)
#   SKIP_SCAN=1 tools/gate.sh    # skip the corpus-scan budget audit
#
# Scale evidence is not a gate stage: it is recorded by hand with
#   sbt "runMain graft.tools.BatchScale <baseDir> <scaledDir> <factor>"
# and scale_check (stage 2e) gates the records SCALE_LEDGER.txt names.
#
# Exits nonzero on: any failing scalatest, any DuckDB oracle mismatch, a
# registry query lost or demoted vs the last CORRECTNESS_r*.json, or any
# headline query >15% slower than the last BENCH_r*.json (median-of-3,
# same scale factor). Green output ends with GATE GREEN.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_TEST="${SF_TEST:-/root/testdata/sf0.01}"
SF_BENCH="${SF_BENCH:-/root/testdata/sf0.1}"

# Fixture fingerprint: recorded up front, re-checked after the long
# test+bench phases. The driver has regenerated testdata mid-round twice;
# a gate that green-lights correctness against one fixture and bench
# numbers against another is not evidence of anything.
echo "== fixture fingerprint =="
python3 tools/fixture_fp.py "$SF_TEST" "$SF_BENCH" | tee /tmp/gate_fixture_fp
# Cross-round check: FIXTURES_FP.txt records the fingerprint the committed
# golden oracles (GoldenOracles.scala) were derived from. A mismatch means
# the driver regenerated testdata since — the goldens are stale and will
# hash-FAIL; regenerate them BEFORE trusting this gate.
if [[ -f FIXTURES_FP.txt ]] && ! diff -q FIXTURES_FP.txt /tmp/gate_fixture_fp > /dev/null; then
  diff FIXTURES_FP.txt /tmp/gate_fixture_fp || true
  echo "WARNING: fixtures differ from the committed FIXTURES_FP.txt —"
  echo "  run tools/regen_goldens.sh, update GoldenOracles.scala, then"
  echo "  refresh FIXTURES_FP.txt (python3 tools/fixture_fp.py > FIXTURES_FP.txt)"
fi

echo "== gate 1/3: sbt test + PLANS.md regen =="
# PlanDump rides the same sbt invocation so the committed plan dumps can
# never go stale relative to the code the gate just proved green.
sbt -batch test "runMain graft.tools.PlanDump"

echo "== gate 2/3: correctness mirror ($SF_TEST) =="
# Clear stale output first: a query dropped from the registry must show up
# as a lost query, not green-light against its previous run's parquet.
rm -rf /tmp/gate_verify
sbt -batch "runMain graft.Verify $SF_TEST /tmp/gate_verify" > /tmp/gate_verify.log 2>&1 \
  || { tail -30 /tmp/gate_verify.log; echo "GATE FAIL: Verify crashed"; exit 1; }
python3 tools/check.py /tmp/gate_verify "$SF_TEST"
python3 tools/gate_diff.py correctness /tmp/gate_verify

if [[ "${SKIP_SCAN:-0}" != "1" ]]; then
  echo "== gate 2b/3: corpus-scan budget (ReuseProbe --all, $SF_TEST) =="
  # Executed-final-plan scan audit vs the committed per-query budget
  # (SCAN_BUDGET.txt). The r9 audit caught a 44-scan triangle-count
  # blowup by hand; this fails the gate when any query's corpus-scan
  # count exceeds its budget (scan_check.py; VERDICT r9 item 4).
  # Known cost: this re-executes the batch registry a second time after
  # gate 2's Verify — accepted because ReuseProbe must inspect each
  # query's OWN executed adaptive plan (Verify's plans end in a parquet
  # write job, which changes AQE finalization); SKIP_SCAN=1 for loops.
  # scan_check fails closed if the probe dir yields zero corpus scans
  # (ReuseProbe classifies corpus by the /testdata/ path substring).
  SPARK_GRAFT_SF_DIR="$SF_TEST" sbt -batch "runMain graft.tools.ReuseProbe --all" \
    > /tmp/gate_scans.log 2>&1 \
    || { tail -30 /tmp/gate_scans.log; echo "GATE FAIL: ReuseProbe crashed"; exit 1; }
  # Budget-semantics drill first (VERDICT r13 item 3): prove the
  # aqe_empty_relation annotation silences ONLY the deliberately-loose
  # caps — a plain loose budget still NOTEs, an overrun still FAILs —
  # before trusting this round's scan_check output.
  python3 tools/scan_check_selftest.py
  # Registry cross-check (ADVICE r10): a budgeted query that ReuseProbe
  # silently skipped while still in the registry fails, not NOTEs.
  # registry.json (Verify's full SparkEntry.queries listing), NOT
  # oracle_sql.json — the latter is only the SQL-expressible subset.
  python3 tools/scan_check.py /tmp/gate_scans.log SCAN_BUDGET.txt \
    /tmp/gate_verify/registry.json
else
  echo "== gate 2b/3: scan budget skipped (SKIP_SCAN=1) =="
fi

if [[ "${SKIP_PLAN:-0}" != "1" ]]; then
  echo "== gate 2d/3: plan-shape invariants (PlanCheck, $SF_TEST) =="
  # Executed-plan invariants on the headline queries (VERDICT r13 item 6):
  # q01 pushed filters, q04's 3-broadcast+1-shuffle join shape, no
  # cartesian/BNLJ in the LSH/simhash pipelines, q31's 2-scan self-join.
  # Runs with autoBroadcastJoinThreshold=-1 so a BroadcastHashJoin can
  # only come from an explicit hint — a deleted broadcast() fails here
  # even though AQE would mask it at sf0.01 (drill:
  # bench_evidence/r14_plan_mutation.txt).
  SPARK_GRAFT_SF_DIR="$SF_TEST" sbt -batch "runMain graft.tools.PlanCheck" \
    > /tmp/gate_plancheck.log 2>&1 \
    || { tail -30 /tmp/gate_plancheck.log; echo "GATE FAIL: plan_check invariant violated"; exit 1; }
  grep "plan_check OK:" /tmp/gate_plancheck.log | tail -1 \
    || { tail -20 /tmp/gate_plancheck.log; echo "GATE FAIL: no plan_check OK line"; exit 1; }
else
  echo "== gate 2d/3: plan-shape invariants skipped (SKIP_PLAN=1) =="
fi

echo "== gate 2e/3: scale-exponent ledger (scale_check) =="
# The "zero super-linear" claim, mechanized (VERDICT r15 item 2): the
# committed decade evidence named in SCALE_LEDGER.txt must be probe-
# certified healthy and every bytes-exponent <= 1.0 with two-rep
# agreement. The selftest runs FIRST and proves a planted regression,
# an uncertified rep, a -1 sentinel and a broken agreement all FAIL —
# same drill-before-trust pattern as scan_check_selftest above.
python3 tools/scale_check_selftest.py
python3 tools/scale_check.py

if [[ "${GATE_GOLDEN_DRILL:-0}" == "1" ]]; then
  echo "== gate 2c/3: golden regeneration drill (GATE_GOLDEN_DRILL=1) =="
  # Opt-in (VERDICT r12 item 6): regenerate the committed golden oracles
  # at HEAD (A/B across cpu counts inside regen_goldens.sh) and
  # byte-compare the emitted VALUES entries against GoldenOracles.scala,
  # so golden drift is caught the round it happens. Opt-in because the
  # drill is two extra Verify runs (~6 min) the inner loop doesn't need —
  # the fixture-fingerprint check above already catches the driver-regen
  # case unconditionally.
  tools/regen_goldens.sh "$SF_TEST" > /tmp/gate_golden.log 2>&1 \
    || { tail -30 /tmp/gate_golden.log; echo "GATE FAIL: regen_goldens.sh crashed"; exit 1; }
  # || handler (round-13 review): a bare grep under set -e would kill
  # the gate with no diagnostic if the A/B lines ever move/reword —
  # every failure path in this script must emit its own GATE FAIL line.
  grep "A/B OK" /tmp/gate_golden.log \
    || { tail -20 /tmp/gate_golden.log; echo "GATE FAIL: no 'A/B OK' lines in regen output"; exit 1; }
  python3 tools/golden_drill.py /tmp/gate_golden.log
fi

if [[ "${SKIP_BENCH:-0}" != "1" ]]; then
  echo "== gate 3/3: bench ($SF_BENCH), driver-shaped rehearsal =="
  # Same env surface as the production Bench invocation (SF_DIR only),
  # a hard time box matching that invocation's budget, and a
  # tail-parse assertion over the LAST 2000 chars of merged output — a
  # tail proof produced under any other env proves nothing about that
  # invocation.
  GATE_BENCH_TIMEOUT="${GATE_BENCH_TIMEOUT:-1500}"
  # rc captured via `|| rc=$?`, NOT `if ! ...; then rc=$?` — the negated
  # pipeline leaves $? as 0 inside the then-branch, which would report
  # every timeout as "crashed (rc=0)" and hide the rc-124 diagnosis.
  # Clear the stale mirror first (round-12 review): Bench warns-but-
  # succeeds when the mirror write fails, and gate_diff has no staleness
  # guard — a leftover /tmp/graft_bench.json from a previous run would
  # green-light THIS run against numbers it never produced (the same
  # stale-output class the /tmp/gate_verify rm above exists for).
  rm -f /tmp/graft_bench.json
  rc=0
  timeout "$GATE_BENCH_TIMEOUT" env SPARK_GRAFT_SF_DIR="$SF_BENCH" \
      sbt -batch "runMain graft.Bench" > /tmp/gate_bench.log 2>&1 || rc=$?
  if [[ $rc -ne 0 ]]; then
    tail -30 /tmp/gate_bench.log
    if [[ $rc -eq 124 ]]; then
      echo "GATE FAIL: Bench exceeded the ${GATE_BENCH_TIMEOUT}s driver time box (rc=124)"
    else
      echo "GATE FAIL: Bench crashed (rc=$rc)"
    fi
    exit 1
  fi
  # Tail-parse: the driver reads the last line of a 2000-char stdout tail.
  python3 tools/tail_parse.py /tmp/gate_bench.log
  # Bench mirrors its one-line JSON contract to /tmp/graft_bench.json;
  # its absence after a rc-0 run means the mirror write failed (Bench
  # only warns) — fail rather than diffing nothing.
  if [[ ! -f /tmp/graft_bench.json ]]; then
    echo "GATE FAIL: Bench finished but wrote no /tmp/graft_bench.json mirror"
    exit 1
  fi
  python3 tools/gate_diff.py bench /tmp/graft_bench.json
else
  echo "== gate 3/3: bench skipped (SKIP_BENCH=1) =="
fi

echo "== fixture fingerprint re-check =="
python3 tools/fixture_fp.py "$SF_TEST" "$SF_BENCH" > /tmp/gate_fixture_fp2
if ! diff -q /tmp/gate_fixture_fp /tmp/gate_fixture_fp2 > /dev/null; then
  diff /tmp/gate_fixture_fp /tmp/gate_fixture_fp2 || true
  echo "GATE FAIL: fixtures changed mid-gate — re-run the whole gate"
  exit 1
fi
cat /tmp/gate_fixture_fp

echo "GATE GREEN"
