#!/usr/bin/env bash
# Round close-out, mechanized (r9 verdict items 4/6, extended per the
# r10 verdict item 4 and r10 advice):
#   1. GATE: refuse to run while a probe chain or any sbt JVM is alive
#      (the r9 official record was contaminated by exactly that), while
#      the bench lock is held, or while the NEWEST chain log does not
#      end in PROBE_*_DONE (the r10 snapshot raced a chain that pgrep
#      missed because the check ran between faces).
#   2. sbt test → regenerate the README test-count line from the log.
#      The suite includes the LSH recall gate (TextDedupSpec "recall
#      gate at sf0.1"): recall 1.0 at the calibrated cap, cap 5 and cap 8.
#   3. Official full bench at sf0.1 (lock acquired by Bench itself) →
#      BENCH_FULL.json.
#   4. COMMIT the round's evidence mechanically (BENCH_FULL.json,
#      LEAKCHECK.json, BENCH_r*/CORRECTNESS_r*, probes/, README) — the
#      "modified-uncommitted at round close" nit was three rounds old.
set -euo pipefail
cd /root/repo

if pgrep -f 'probe_r[0-9]+\.sh|graft\.ScaleProbe' > /dev/null; then
  echo "REFUSE: a probe chain is running — close the round after PROBE_*_DONE" >&2
  exit 1
fi
if pgrep -f 'sbt-launch|xsbt' > /dev/null; then
  echo "REFUSE: an sbt JVM is alive — the bench box must be quiet" >&2
  exit 1
fi
# a chain that STARTED this boot must have printed its DONE line — a
# dead/mid-face chain's artifacts are not evidence yet
newest_chain=$(ls -t target/probe*_chain.log 2>/dev/null | head -1 || true)
if [ -n "$newest_chain" ] && ! tail -1 "$newest_chain" | grep -q 'PROBE_.*_DONE'; then
  echo "REFUSE: $newest_chain does not end in PROBE_*_DONE — the chain is" \
       "mid-face or died; finish or clean it before closing the round" >&2
  exit 1
fi

LOG=target/round_close_test.log
sbt -batch test 2>&1 | tee "$LOG" | tail -5
# per-line extraction (r10 advice: the old `tr -dc '0-9\n'` pipeline
# concatenated digits WITHIN a line — 'completed 35, aborted 0' → '350')
tests=$(grep -oP 'Total number of tests run: \K[0-9]+' "$LOG" | tail -1)
suites=$(grep -oP 'Suites: completed \K[0-9]+' "$LOG" | tail -1)
# ScalaTest prints '*** 1 TEST FAILED ***' (singular) — match both; the
# pipefail on sbt's exit code above is the primary gate, this is belt
if grep -Eq '\*\*\* [0-9]+ TESTS? FAILED' "$LOG"; then
  echo "REFUSE: tests red" >&2; exit 1
fi
[ -n "$tests" ] && [ -n "$suites" ] || { echo "REFUSE: could not parse test counts" >&2; exit 1; }
sed -i -E "s/[0-9]+ tests across [0-9]+ suites/${tests} tests across ${suites} suites/" README.md
echo "README test count synced: ${tests} tests / ${suites} suites"

# provenance stamp (r16 verdict item 1: the builder-close record and a
# later driver record coexisted with nothing saying which was which) —
# Bench writes "source" into BENCH_FULL.json from this env var
SPARK_GRAFT_BENCH_SOURCE=builder-close \
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>&1 | grep '^{"metric"' | tail -1

# BENCHNOTES record block regenerates from the record itself (r12
# verdict item 6: the comparability prose once drifted from the
# committed record); fails on a malformed record
python3 tools/sync_benchnotes.py

# calib-normalized per-query diff vs the last committed record (r13
# verdict item 7): the judge reads signal, not weather — printed into
# the close log AND left for the round notes
python3 tools/bench_diff.py | tee target/bench_diff.log

# evidence commits mechanically — never again "modified at round close".
# add per-file: one git add with a list stages NOTHING if any pathspec
# matches no file (r12 advice, same fix as round_open)
for f in BENCH_FULL.json LEAKCHECK.json README.md probes/ \
  BENCH_r*.json CORRECTNESS_r*.json BENCHNOTES.md; do
  if [ -e "$f" ]; then git add -- "$f"; fi
done
if ! git diff --cached --quiet; then
  git commit -m "round close: bench record, probe evidence, README counts"
fi
echo "--- round-close git status (anything below is NOT evidence the script knows about):"
git status --short
