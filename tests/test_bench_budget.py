"""In-repo bench budget gate (round-7, VERDICT r6 item 6).

The oracle side already fails loudly on cost bombs
(tests/test_oracle_costs.py, both scales); until now the ENGINE side
relied on the external driver's round bench to notice a plan
regression. This test runs the committed bench CLI exactly as the
driver does (subprocess, sf0.1, local[$SPARK_GRAFT_CPUS]) and asserts
every headline query lands within BUDGET_FACTOR x its manifest wall
(tools/bench_manifest_sf0.1.json = per-query medians over >= 2 full
bench runs of the current code, see "Reference policy" below), so a
lost broadcast or a new global sort fails HERE before the driver sees
it. The manifest is bound to the core count it was measured at (its
"cpus"): compute-bound queries scale with local[N], so walls are
compared only when this run's cpus equals the manifest's, and a
mismatch fails naming both counts instead of as an overrun.

Budget calibration (round 8): bench.py's untimed System.gc() before
each timed rep roughly halved the measured idle A/B noise band —
total swing 34% -> 8.4%, worst per-query ratio 2.09x -> 1.56x, median
1.30 -> 1.13 (SCALING.md round-8 table) — so the factor drops from
the r7 3x to 2x per the calibration rule (worst legitimate excursion
plus ~30% headroom). The 1-second absolute floor still covers
sub-second queries, which remain mostly jitter. A genuine plan
regression is an order of magnitude, not 2x.

Reference policy (round 14, VERDICT r13 item 2): manifest entries are
per-query MEDIANS over full bench runs of the CURRENT code
(tools/gen_bench_manifest.py), not all-time minima — the r13 manifest
min-merged a single-best outlier and this gate then fired on a loaded
box for a query whose standalone wall was fine. Two standing rules:
(1) regenerate with gen_bench_manifest.py from >= 2 fresh full runs,
never by hand-min-merging; (2) a commit touching an operator
INVALIDATES its entry — re-measure before tightening, and never
tighten in the same commit window as an unbenched code change.

Opt out with SPARK_GRAFT_SKIP_BENCH_BUDGET=1 (e.g. while another
Spark job owns the box — the walls would measure the neighbor).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "tools", "bench_manifest_sf0.1.json")
BUDGET_FACTOR = 2.0
ABS_FLOOR_SEC = 1.0


SF01 = "/root/testdata/sf0.1"


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_BENCH_BUDGET") == "1",
    reason="bench budget gate disabled via SPARK_GRAFT_SKIP_BENCH_BUDGET",
)
@pytest.mark.skipif(
    not os.path.isdir(SF01),
    reason=f"bench fixture {SF01} not present on this host (ADVICE r7)",
)
def test_headline_queries_within_budget():
    manifest = json.load(open(MANIFEST))
    assert manifest["sf"] == 0.1
    budget = manifest["queries"]

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF01)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=1800,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, f"bench stdout must be ONE JSON line: {lines}"
    result = json.loads(lines[0])

    # walls measured at another local[N] are not a reference for this one
    assert manifest.get("cpus") == result["cpus"], (
        f"manifest measured at cpus={manifest.get('cpus')}, this bench ran "
        f"at cpus={result['cpus']}; regenerate it at this core count: "
        f"SPARK_GRAFT_CPUS={result['cpus']} python bench.py > runN.json "
        f"(>= 2 full runs), then python tools/gen_bench_manifest.py "
        f"run1.json run2.json ..."
    )

    # every manifest query must still be a headline query (a silently
    # dropped headline row would un-gate its plan) ...
    missing = set(budget) - set(result["queries"])
    assert not missing, f"headline queries dropped from bench: {missing}"
    # ... and every headline query must have a manifest entry (a newly
    # added headline query is otherwise silently ungated until the
    # manifest is regenerated — ADVICE r7)
    unbudgeted = set(result["queries"]) - set(budget)
    assert not unbudgeted, (
        f"headline queries missing from the manifest — regenerate "
        f"tools/bench_manifest_sf0.1.json: {unbudgeted}"
    )

    over = {
        name: (wall, budget[name])
        for name, wall in result["queries"].items()
        if name in budget
        and wall > max(BUDGET_FACTOR * budget[name], ABS_FLOOR_SEC)
    }
    assert not over, (
        "per-query budget exceeded (wall, manifest); regenerate "
        f"tools/bench_manifest_sf0.1.json if the plan change is "
        f"intentional: {over}"
    )
