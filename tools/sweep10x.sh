#!/usr/bin/env bash
# One-command re-run of the 10x oracle sweep (VERDICT r11 #3): verify
# every DuckDB-oracled query hash-green at a corpus ONE SCALE BEYOND
# bench. Round 11 ran this protocol by hand and it caught four
# ORACLE-side scale defects (parallel-nondeterministic window ties,
# quadratic all-pairs formulations) while the engine stayed green —
# this script makes that claim re-establishable in one command.
#
#   tools/sweep10x.sh [srcDir] [destDir] [verifyOut]
#     defaults: /root/testdata/sf0.1 -> /tmp/sf1 -> /tmp/verify_sf1
#   SPARK_GRAFT_ONLY=q78,q86,... restricts steps 2-4 to those queries.
#
# Protocol (PLANS.md "The 10x oracle sweep"):
#   1. MakeTenX builds the 10x corpus: 10 copies, DISTINCT-documents
#      axis (letter-permuted copies, so the text family gets 10x
#      distinct docs with no new near-dup pairs at the shipped
#      thresholds) and events replicated on event_id (every per-user
#      timestamp duplicated 10x -- the worst-case window/session tie
#      corpus that surfaced the q104/q37 DuckDB tie instabilities).
#   2. graft.Verify dumps every query's result at the 10x corpus.
#   3. The EXCLUDED set below is stripped from oracle_sql.json.
#   4. check_oracle.py runs the remaining oracles in DuckDB
#      (directory-parquet aware) and compares. Success = exit 0 =
#      "0 mismatching / N total" with N = 289 - 4 = 285 at the current surface.
#
# Exclusions, with rationale (each encoded here, not in prose):
#   - The 9 rows-only queries (no DuckDB-expressible oracle; xxhash64 /
#     ALS internals / trained codebooks) are already absent from
#     oracle_sql.json -- nothing to strip.
#   - q33/q66/q137/q267: their ORACLES are quadratic all-pairs
#     embedding scans (|docs|^2 list/array distance joins) that do not
#     terminate in DuckDB at 10x; the OPERATORS are not quadratic, and
#     their scale behavior is separately pinned by
#     LshRecallAtScaleSpec / PqRecallAtScaleSpec and the growth-probe
#     tables in PLANS.md. (The near-dup text oracles were REWRITTEN as
#     posting joins in r11 instead of excluded -- exclusion is only for
#     oracles whose quadratic shape is inherent to exact k-NN truth.)
set -euo pipefail
cd "$(dirname "$0")/.."

SRC=${1:-/root/testdata/sf0.1}
DEST=${2:-/tmp/sf1}
OUT=${3:-/tmp/verify_sf1}
# 4th arg scales the ladder rung: 10 (default) reproduces the round-11
# protocol; 30 probes one more scale up on the same axes
COPIES=${4:-10}
EXCLUDE="q33_knn_brute q66_dedup_embedding q137_sq_search q267_knn_label_accuracy"

echo "[sweep10x] 1/4 building ${COPIES}x corpus $SRC -> $DEST"
sbt -batch "runMain graft.tools.MakeTenX $SRC $DEST $COPIES eventid distinct"

echo "[sweep10x] 2/4 dumping query results at $DEST -> $OUT"
sbt -batch "runMain graft.Verify $DEST $OUT"

echo "[sweep10x] 3/4 stripping quadratic-oracle exclusions"
python3 - "$OUT" $EXCLUDE <<'EOF'
import json, os, sys
out = sys.argv[1]
exclude = set(sys.argv[2:])
path = f"{out}/oracle_sql.json"
oracle = json.load(open(path))
missing = exclude - set(oracle)
# a stale exclusion (renamed/removed query) should fail loudly, not
# silently narrow the sweep; a SPARK_GRAFT_ONLY dump holds only the
# named queries, so there every exclusion may be absent
assert not missing or os.environ.get("SPARK_GRAFT_ONLY"), \
    f"exclusions not in oracle_sql.json: {missing}"
kept = {k: v for k, v in oracle.items() if k not in exclude}
json.dump(kept, open(path, "w"))
print(f"[sweep10x] {len(oracle)} oracles -> {len(kept)} after exclusions")
EOF

echo "[sweep10x] 4/4 DuckDB compare at ${COPIES}x"
python3 tools/check_oracle.py "$DEST" "$OUT"

# GC on success (VERDICT r12 #7): the staged corpus and verify dumps
# are rebuilt from scratch on every run, so keeping them only
# accumulates ~1.5 GB per rung across repeated ladder runs. Only
# reached when check_oracle.py exits 0 (set -e) — a failing run keeps
# its artifacts for diagnosis.
echo "[sweep10x] success — removing staged corpus $DEST and dumps $OUT"
rm -rf "$DEST" "$OUT"
