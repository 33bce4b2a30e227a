#!/bin/bash
# One-command pre-ship gate, in cost order (fail fast):
#   1. check_repo.py      — imports/registry/docs/stability-ledger (~10 s)
#   2. pytest             — full suite incl. golden replay + plan shapes
#   3. PLANS.md staleness — regenerate and diff (the committed plans
#                           must describe the committed code)
#   4. driver replica     — every query through __spark_entry__ on a
#                           VANILLA session at sf0.01/200 partitions —
#                           byte-for-byte what the driver's t2 does
#                           (the strongest CORRECTNESS predictor)
#   5. float stability    — full-registry 8-vs-200-partition sweep
#   6. bench.py           — headline suite at sf0.1 (prints the JSON line)
# Steps 4-6 dominate (~60-90 min total); pass --quick for 1-3 only.
set -euo pipefail
cd "$(dirname "$0")/.."

python scripts/check_repo.py
python -m pytest tests/ -q
python scripts/gen_plans_md.py
git diff --exit-code PLANS.md || {
  echo "PLANS.md was stale — regenerated; review and commit it"; exit 1; }
[ "${1:-}" = "--quick" ] && { echo "QUICK GATE PASS"; exit 0; }
# optional: adversarial-fixture fuzz (hostile nulls/unicode/ties/skew
# vs the DuckDB oracle — FUZZ.md); pass --fuzz to include (~40 min);
# the manifest regen keeps MANIFEST.json honest with the fresh ledger
[ "${1:-}" = "--fuzz" ] && {
  python scripts/fuzz_oracle.py --json FUZZ_ledgers/FUZZ_full.json
  python scripts/gen_fuzz_manifest.py
}
python scripts/driver_replica.py
python scripts/check_float_stability.py /root/testdata/sf0.01
SPARK_GRAFT_CPUS=4 python bench.py  # the committed baseline's core count
echo "RELEASE GATE PASS"
