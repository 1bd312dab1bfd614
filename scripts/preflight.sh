#!/usr/bin/env bash
# Pre-snapshot gate: EVERYTHING that must be green before an
# end-of-round commit. Round 4 shipped its only red test because the
# final snapshot commit skipped the full suite — this script exists so
# that cannot happen again. Run from the repo root:
#
#   bash scripts/preflight.sh            # full gate (~6-8 min)
#   bash scripts/preflight.sh fast       # skip the sf0.01 oracle sweep
#
# Exits non-zero on the first failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight: full pytest suite =="
python -m pytest tests/ -q

echo "== preflight: bench ratio gate (VERDICT r9 ask #10) =="
python - <<'EOF'
import glob, json, sys
files = sorted(glob.glob("BENCH_LOCAL_r*.json"))
if not files:
    print("no BENCH_LOCAL artifact yet — skipping ratio gate")
else:
    d = json.load(open(files[-1]))
    r = d.get("ratio_vs_prev") or {}
    p90, med = r.get("p90_ratio"), r.get("median_ratio")
    if p90 is None:
        print(f"{files[-1]}: no ratio_vs_prev (first artifact) — skipping")
    else:
        print(f"{files[-1]}: median {med}, p90 {p90} vs {r.get('prev_file')}")
        if p90 > 2.0:
            # beyond any documented cross-sitting drift: a real regression
            print(f"FAIL: p90 per-query ratio {p90} > 2.0", file=sys.stderr)
            sys.exit(1)
        if p90 > 1.4:
            print(
                f"WARNING: p90 ratio {p90} exceeds the 1.4 drift ceiling —"
                " A/B the movers with alternating parent/change pairs of"
                " perfbench/run.py before closing the round"
            )
EOF

echo "== preflight: bench artifact policy (VERDICT r10 item 5) =="
# No stray round-named bench artifacts: every BENCH_LOCAL_r*.json at
# the repo root must be tracked (bench.py only mints one when
# SPARK_GRAFT_ROUND is pinned; unpinned runs divert to /tmp).
untracked_bench=$(git status --porcelain -- 'BENCH_LOCAL_r*.json' | grep '^??' || true)
if [[ -n "$untracked_bench" ]]; then
  echo "preflight: FAIL — untracked bench artifacts at repo root:" >&2
  echo "$untracked_bench" >&2
  echo "Commit the canonical one (pinned SPARK_GRAFT_ROUND run) or delete strays." >&2
  exit 1
fi

echo "== preflight: BNLJ allowlist audit (VERDICT r10 item 6) =="
python scripts/explain_report.py audit

echo "== preflight: driver smoke (plain session, entry()) =="
python - <<'EOF'
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").getOrCreate()
import __spark_entry__ as E
n = len(E.entry(spark).collect())
assert n > 0, "entry() returned no rows"
qs, osql = E.queries(), E.oracle_sql()
missing = [k for k in osql if k not in qs]
assert not missing, f"oracle_sql keys without queries(): {missing}"
print(f"entry OK ({n} rows); {len(qs)} queries, {len(osql)} oracles")
spark.stop()
EOF

if [[ "${1:-}" != "fast" ]]; then
  # VERDICT r8 ask #2: the committed SWEEP_HASHES.json ledger must be
  # stamped on the tree it claims to describe. Refuse to run the
  # stamping sweep if anything is modified beyond the gate's own
  # artifacts (ledger / log / bench artifact / driver progress file) —
  # commit first, then run the full gate.
  dirty=$(git status --porcelain | grep -vE ' (SWEEP_HASHES\.json|PREFLIGHT\.log|PROGRESS\.jsonl|BENCH_LOCAL_r[0-9]+\.json)$' || true)
  if [[ -n "$dirty" ]]; then
    echo "preflight: REFUSING to stamp SWEEP_HASHES.json on a dirty tree." >&2
    echo "Commit these first (or run 'preflight.sh fast'):" >&2
    echo "$dirty" >&2
    exit 1
  fi
  echo "== preflight: sf0.01 oracle sweep (driver t2 mirror) =="
  python scripts/verify_local.py
fi

echo "== preflight: ALL GREEN =="
# Committed audit trail (VERDICT r5 ask #6): one line per green run,
# stamped with the tree it validated, so the end-of-round snapshot
# commit carries the proof that preflight ran on (or right before) it.
echo "$(date -u +%Y-%m-%dT%H:%M:%SZ) tree=$(git rev-parse HEAD) mode=${1:-full} ALL GREEN" >> PREFLIGHT.log
