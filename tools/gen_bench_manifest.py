#!/usr/bin/env python
"""Regenerate tools/bench_manifest_sf0.1.json from full bench runs.

Budget-calibration policy (r14, VERDICT r13 item 2): each entry is the
per-query MEDIAN over the supplied full-run JSON outputs — a robust
reference wall, NOT the all-time minimum. The r13 manifest min-merged a
single best run (pipeline_canonical_containment 6.65 → 4.43 s off one
outlier), which made the 2×-of-reference gate in
tests/test_bench_budget.py fire on any loaded box (the driver's pytest
session measured 9.32 s for a query its own standalone bench ran in
3.88 s). A median reference × the 2.0 gate factor still catches a
genuine plan regression (those are order-of-magnitude, or at minimum
2× of TYPICAL, not 2× of a lucky minimum) while tolerating host noise.

Invalidation rule (also VERDICT r13 item 2): a commit that touches an
operator INVALIDATES its manifest entry — regenerate from fresh runs
of the new code before the round ends; never tighten an entry in the
same commit window as an unbenched code change.

Core-count binding: the walls of compute-bound queries scale with the
local[N] core count (multimodal_png_palette_alpha: 0.70-0.97 s at 32
cores, 1.50-1.59 s at 8, 1.72-2.00 s at 4), so every run must record the
same "cpus" and the manifest carries it; tests/test_bench_budget.py
refuses to compare walls against a manifest from another count.

    SPARK_GRAFT_CPUS=$(env -u OMP_NUM_THREADS nproc) \
        python bench.py > run1.json     # >= 2 full runs, same settings
    python tools/gen_bench_manifest.py run1.json run2.json [...]

Each input is either the driver's BENCH_r*.json wrapper (with a
"parsed" key; its top-level "cpus" counts if the parsed line has none)
or bench.py's own one-line JSON output saved to a file.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "tools", "bench_manifest_sf0.1.json")


def load_run(path: str) -> tuple[int, dict[str, float]]:
    """(cpus, {query: wall}) of one full bench run."""
    with open(path) as f:
        text = f.read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        line = [l for l in text.splitlines() if l.strip().startswith("{")][-1]
        d = json.loads(line)
    if "parsed" in d:
        d = {"cpus": d.get("cpus"), **d["parsed"]}
    if d.get("sf") != 0.1:
        raise SystemExit(f"{path}: sf={d.get('sf')} != 0.1")
    cpus = d.get("cpus")
    if not isinstance(cpus, int) or cpus < 1:
        raise SystemExit(f"{path}: no core count recorded (cpus={cpus!r})")
    return cpus, d["queries"]


def main() -> None:
    loaded = [load_run(p) for p in sys.argv[1:]]
    if len(loaded) < 2:
        raise SystemExit("need >= 2 full-run JSONs for a median")
    counts = {cpus for cpus, _ in loaded}
    if len(counts) != 1:
        raise SystemExit(
            f"runs measured at different core counts: {sorted(counts)}"
        )
    (cpus,) = counts
    runs = [queries for _, queries in loaded]
    names = set(runs[0])
    for r in runs[1:]:
        if set(r) != names:
            raise SystemExit("runs cover different query sets")
    queries = {
        n: round(statistics.median(r[n] for r in runs), 4)
        for n in sorted(names)
    }
    out = {
        "generated": (
            "median-of-%d-runs policy at local[%d]: entries are "
            "per-query MEDIANS over full bench runs of the current code "
            "at one core count, not all-time minima; a commit touching "
            "an operator invalidates its entry (regenerate before round "
            "end)" % (len(runs), cpus)
        ),
        "queries": queries,
        "sf": 0.1,
        "cpus": cpus,
    }
    with open(MANIFEST, "w") as f:
        json.dump(out, f, indent=2, sort_keys=False)
        f.write("\n")
    print(f"wrote {MANIFEST}: {len(queries)} entries at cpus={cpus}, "
          f"total {sum(queries.values()):.2f}s")


if __name__ == "__main__":
    main()
