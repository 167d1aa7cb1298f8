#!/usr/bin/env bash
# Round-end determinism matrix: the whole Verify battery, graded by
# tools/check.py against the DuckDB oracle, once per row below.
#
# Usage: tools/matrix.sh <summary-file>
#   One line per row ("<label>: <check.py verdict> (spark-crashes=N)"),
#   then "MATRIX DONE at <HEAD>" — the file tools/close_gate.sh takes as
#   its <matrix-summary> argument.
#
# Rows, standing axes first:
#  - stock0001 / stock001: stock sf0.001 and sf0.01 at default CPUS.
#  - stock01: stock sf0.1 at SPARK_GRAFT_CPUS=10.
#  - cpus7: sf0.01 at SPARK_GRAFT_CPUS=7 (parallelism invariance).
#  - aqe0: sf0.01 with SPARK_GRAFT_AQE=0 (plan-shape invariance: the
#    row that grades a change to physical plan shapes).
#  - null001 / empty / uni001 / dup / skew001: the null, empty-corpus,
#    unicode, duplicate-flood and adversarial-skew injections of sf0.01,
#    all at SPARK_GRAFT_CPUS=10.
#  - null01 / uni01 / skew01: the null, unicode and skew injections of
#    sf0.1 at SPARK_GRAFT_CPUS=10 — the only rows whose candidate counts
#    exceed the count-shaped knobs' thresholds (sf0.01 arms cannot pass
#    the 50-candidate margin; NOTES_r16 §5 maps each knob to its row).
#
# Serializes sbt (one Verify at a time); takes hours — run under nohup.
set -uo pipefail
S=$(realpath "${1:?usage: matrix.sh <summary-file>}")
cd "$(dirname "$0")/.."
TD=/root/testdata   # the stock sf0.001 / sf0.01 / sf0.1 corpora (TESTDATA.md)
: > "$S"
echo "gate-commit: $(git rev-parse HEAD) ($(git diff --stat -- src/ | tail -1 | sed 's/^ *//;s/ *$//'))" | tee -a "$S"

run() { # label sfdir extra-env...
  local label="$1" sfdir="$2"; shift 2
  local out="/tmp/mx_${label}"
  env "$@" sbt -batch "runMain graft.Verify $sfdir $out" > "/tmp/mx_${label}.log" 2>&1
  local crashes; crashes=$(grep -c 'verify\].*failed' "/tmp/mx_${label}.log" || true)
  local res; res=$(python3 tools/check.py "$sfdir" "$out" 2>&1 | tail -1)
  echo "$label: $res (spark-crashes=$crashes)" | tee -a "$S"
}

# injected corpora at HEAD
python3 tools/nullify.py  $TD/sf0.01 /tmp/mxc_null001  > /dev/null
python3 tools/nullify.py  $TD/sf0.1  /tmp/mxc_null01   > /dev/null
python3 tools/emptify.py  $TD/sf0.01 /tmp/mxc_empty    > /dev/null
python3 tools/unicodify.py $TD/sf0.01 /tmp/mxc_uni001  > /dev/null
python3 tools/unicodify.py $TD/sf0.1  /tmp/mxc_uni01   > /dev/null
python3 tools/dupify.py   $TD/sf0.01 /tmp/mxc_dup      > /dev/null
python3 tools/skewify.py  $TD/sf0.01 /tmp/mxc_skew001  > /dev/null
python3 tools/skewify.py  $TD/sf0.1  /tmp/mxc_skew01   > /dev/null
run stock0001  $TD/sf0.001
run stock001   $TD/sf0.01
run stock01    $TD/sf0.1  SPARK_GRAFT_CPUS=10
run cpus7      $TD/sf0.01 SPARK_GRAFT_CPUS=7
run aqe0       $TD/sf0.01 SPARK_GRAFT_AQE=0
run null001    /tmp/mxc_null001      SPARK_GRAFT_CPUS=10
run null01     /tmp/mxc_null01       SPARK_GRAFT_CPUS=10
run empty      /tmp/mxc_empty        SPARK_GRAFT_CPUS=10
run uni001     /tmp/mxc_uni001       SPARK_GRAFT_CPUS=10
run dup        /tmp/mxc_dup          SPARK_GRAFT_CPUS=10
run skew001    /tmp/mxc_skew001      SPARK_GRAFT_CPUS=10
run uni01      /tmp/mxc_uni01        SPARK_GRAFT_CPUS=10
run skew01     /tmp/mxc_skew01       SPARK_GRAFT_CPUS=10
echo "MATRIX DONE at $(git rev-parse HEAD)" | tee -a "$S"
