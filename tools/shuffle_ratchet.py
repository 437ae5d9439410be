#!/usr/bin/env python3
"""Shuffle-BYTES ratchet (round 15, VERDICT r14 #4).

The shuffle-count ratchet (PlanSpec) pins exchange TOPOLOGY; it cannot see
a candidate explosion that keeps the same plan shape — exactly the
dd_edit_blocked class (constant blocking cells, quadratically growing
in-cell candidates). This tool gates per-query shuffle read+write BYTES
against a committed manifest, BOTH ways: growth beyond tolerance means a
new data explosion (fix it or bank it in the same diff); shrinkage beyond
tolerance means an optimization that must be banked so it cannot silently
regress later.

Manifest convention (src/test/resources/shuffle_bytes_manifest.tsv):
recorded at sf0.1 with a SEQUENTIAL drive and a FRESH index root, so
memoized artifact-build stages have deterministic per-query attribution:

    rm -rf /tmp/graft_idx_ratchet
    GRAFT_VERIFY_THREADS=1 \
      SPARK_GRAFT_INDEX_ROOT=/tmp/graft_idx_ratchet SPARK_GRAFT_CPUS=32 \
      java ... graft.Verify /root/testdata/sf0.1 /tmp/verify_ratchet
    python3 tools/shuffle_ratchet.py /tmp/verify_ratchet --regen

The parallelism is PINNED, mechanically: bytes are deterministic per
defaultParallelism but not across settings (split regrouping changes
shuffle-block compression granularity — measured ±~2.4× on ~1 MB
shuffles between local[16] and local[32], r17: 14 false flags traced
to a 16-seeded manifest compared against 32-cpu drives). The capture
records the session's defaultParallelism (every Verify drive writes
verify_spill.json from its job-group ledger, tools.JobLedger; its
`parallelism`), --regen banks it as the `__parallelism__` manifest row,
and a gate run REFUSES a capture whose setting differs from the banked
pin instead of reporting nonsense byte deltas.

Gate run (same drive, no --regen):

    python3 tools/shuffle_ratchet.py /tmp/verify_ratchet

Tolerance: a query passes while new_bytes is within [old/TOL - SLACK,
old*TOL + SLACK] with TOL=1.35 and SLACK=256 KiB — the multiplicative
band absorbs compression/partial-agg run-to-run variance on big shuffles,
the absolute slack keeps KB-scale queries from flapping. The gated number
is read+write summed (one number per query keeps the manifest reviewable;
an explosion shows up in both sides anyway).
"""
import json
import os
import sys

import ratchet_lib

TOL = 1.35
SLACK = 256 * 1024
MANIFEST = os.path.join(os.path.dirname(__file__), "..",
                        "src", "test", "resources",
                        "shuffle_bytes_manifest.tsv")
# non-query job groups the Verify main sets
SKIP_GROUPS = {"prepare", "ungrouped"}

if "--help" in sys.argv or "-h" in sys.argv or len(sys.argv) < 2:
    print(__doc__)
    sys.exit(0)

out_dir = sys.argv[1]
regen = "--regen" in sys.argv

spill_path = os.path.join(out_dir, "verify_spill.json")
if not os.path.exists(spill_path):
    print(f"FAIL: {spill_path} missing — run graft.Verify into "
          f"{out_dir} first (it writes the file after spark.stop())")
    sys.exit(2)

with open(spill_path) as f:
    report = json.load(f)
groups = report.get("groups", {})
fresh = {g: v.get("shuffle_read", 0) + v.get("shuffle_write", 0)
         for g, v in groups.items() if g not in SKIP_GROUPS}
# The capture's defaultParallelism (-1 / absent: a Verify predating the
# stamp — treated as unknown and refused against a pinned manifest).
cap_par = report.get("parallelism", -1)
PIN_ROW = "__parallelism__"

if regen:
    banked = dict(fresh)
    if cap_par > 0:
        banked[PIN_ROW] = cap_par
    ratchet_lib.regen_manifest(MANIFEST, banked, lambda v: str(v))
    sys.exit(0)

if not os.path.exists(MANIFEST):
    print(f"FAIL: manifest {MANIFEST} missing — regen first (--regen)")
    sys.exit(2)

old = ratchet_lib.load_manifest(MANIFEST, int)
pin = old.pop(PIN_ROW, None)
if pin is not None and cap_par != pin:
    print(f"FAIL: capture parallelism {cap_par} != manifest pin {pin} — "
          "shuffle bytes are only comparable at the pinned setting; "
          f"re-drive with SPARK_GRAFT_CPUS={pin} (or re-seed with --regen "
          "and bank the new pin in the same diff)")
    sys.exit(1)

# A manifest query ABSENT from the capture is always an explicit failure
# (ADVICE r16: the old `fresh.get(q, 0)` let small-shuffle queries vanish
# silently whenever old_bytes <= ~TOL*SLACK). Absence means either a
# retired query (gone from SparkEntry.queries) or shuffle bytes dropping
# to exactly 0 (the ledger keeps only spill/peak/shuffle>0 rows) —
# both are manifest edits that must be banked in the same diff, never
# inferred from a band that happens to contain 0.
failures = ratchet_lib.band_failures(
    old, fresh, TOL, SLACK, lambda v: f"{int(v)} bytes",
    absent_hint="retired query, or shuffle dropped to 0; bank it "
                "(--regen) in the same diff")
ratchet_lib.report(failures, len(fresh), "shuffle-bytes ratchet",
                   f"x{TOL} (+/-{SLACK // 1024} KiB)")
