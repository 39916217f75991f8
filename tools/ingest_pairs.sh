#!/bin/bash
# Alternating parent/change pairs of one ingestbench workload.
#
#   tools/ingest_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD SEED...
#
# PARENT_DIR and CHANGE_DIR are two checkouts (fresh copies, e.g. made
# with `git archive`). For each seed it runs
# `ingestbench/run.py --workload WORKLOAD --seed SEED --seconds 10 --trace 0`
# once in each checkout, one run at a time; the parent goes first on
# the 1st, 3rd, ... seed and the change on the 2nd, 4th, ... Each
# result line is appended, tagged with its side and seed, to
# ingest_pairs-WORKLOAD.jsonl in the current directory (each run's
# stderr to ingest_pairs-WORKLOAD.log). Then it prints, per end-to-end
# metric of CHANGE_DIR/BENCHMARK.json: both medians, each pair's
# values, and how many pairs the change won; and every run whose
# `failed` is not 0.
set -euo pipefail
if [ $# -lt 4 ]; then
  echo "usage: $0 PARENT_DIR CHANGE_DIR WORKLOAD SEED..." >&2
  exit 2
fi
PARENT="$(cd "$1" && pwd)"
CHANGE="$(cd "$2" && pwd)"
WORKLOAD="$3"
shift 3
OUT="$PWD/ingest_pairs-$WORKLOAD.jsonl"
LOG="$PWD/ingest_pairs-$WORKLOAD.log"
RUNS="$(mktemp)"
trap 'rm -f "$RUNS"' EXIT

run() { # side dir seed
  echo "[pairs] $WORKLOAD seed $3: $1" >&2
  local line
  line="$(cd "$2" && python3 ingestbench/run.py --workload "$WORKLOAD" \
    --seed "$3" --seconds 10 --trace 0 2>>"$LOG" | tail -n 1)" || true
  # a run that crashed prints no result object
  case "$line" in "{"*) ;; *) line=null ;; esac
  line="{\"side\": \"$1\", \"seed\": $3, \"result\": $line}"
  echo "$line" >>"$OUT"
  echo "$line" >>"$RUNS"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$PARENT" "$seed"; run change "$CHANGE" "$seed"
  else
    run change "$CHANGE" "$seed"; run parent "$PARENT" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$RUNS" "$CHANGE/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = [json.loads(line) for line in open(sys.argv[1])]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
for r in runs:
    res = r["result"]
    if res is None or res.get("failed") != 0:
        print(f"FAILED RUN: {r['side']} seed {r['seed']}: "
              f"{'no result' if res is None else 'failed ' + str(res.get('failed'))}")
seeds = sorted({r["seed"] for r in runs})
value = {(r["side"], r["seed"]): r["result"]["metrics"] for r in runs if r["result"]}
for m in metrics:
    name, higher = m["name"], m["better"] == "higher"
    pairs = [(s, value[("parent", s)][name]["value"], value[("change", s)][name]["value"])
             for s in seeds if ("parent", s) in value and ("change", s) in value]
    if not pairs:
        continue
    won = sum(1 for _, p, c in pairs if (c > p if higher else c < p))
    print(f"{name} ({m['better']} is better): parent median "
          f"{statistics.median(p for _, p, _ in pairs):.4g}, change median "
          f"{statistics.median(c for _, _, c in pairs):.4g}, change won "
          f"{won}/{len(pairs)}")
    for s, p, c in pairs:
        print(f"  seed {s}: parent {p:.4g}  change {c:.4g}")
EOF
