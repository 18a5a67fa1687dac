"""Partition-count determinism sweep over the full query registry.

The engine's core distributed-correctness claim is that every
registered query's RESULT is invariant to the physical execution
plan's parallelism: the driver value-hashes results, so any
partitioning-dependent behavior (float sum order outside the
functions/exact.py discipline, collect_list order reaching output
unsorted, limit-without-order, time-dependent expressions) flips the
hash between runs even when each run "looks right". The DuckDB oracle
gate catches these only when the oracle disagrees on the sampled day;
this sweep attacks the claim directly — run EVERY query under two
different ``spark.sql.shuffle.partitions`` settings (different
sessions, so nothing is cached across them) and compare canonical
value hashes.

Usage::

    python tools/determinism.py [sf_dir] [partsA] [partsB]
    python tools/determinism.py --plans DIR [sf_dir]

defaults: /root/testdata/sf0.001, 8, 32 (the unit-test and driver
parallelism respectively). Exit 0 iff every query hashes identically
under both settings. This is a verification harness, not CI — it runs
the whole registry twice (~2 full constructions); schedule it like
the scale rehearsals.

``--plans DIR`` checks the other half of the claim, that a query plans
the same way on every warm call: in one ``get_spark`` session it
constructs and executes every registered query PLAN_CALLS times,
compares the ``executedPlan()`` strings with per-call ids stripped
(``_PLAN_IDS``), prints the queries whose plan changed between
calls, and writes each query's last normalized plan to
``DIR/<query>.txt``, so two checkouts' directories can be ``diff -r``'d.
Exit 0 iff every query's plan is stable.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _result_hash(df) -> tuple[int, str, str]:
    """(row count, sorted-schema string, canonical value hash) — the
    same canonicalization the driver and tests/oracle_harness.py use:
    columns sorted by name, rows sorted by stringified values."""
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(
            by=list(pdf.columns), key=lambda s: s.astype(str)
        )
    schema = ",".join(f"{c}:{pdf[c].dtype.kind}" for c in pdf.columns)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False):
        h.update("\x1f".join(map(str, row)).encode())
        h.update(b"\x1e")
    return len(pdf), schema, h.hexdigest()


def _sweep(sf_dir: str, partitions: int, aqe: bool = True) -> dict[str, tuple]:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from mpi_mapreduce_spark.plans.registry import QUERIES

    out = {}
    for name, fn in QUERIES.items():
        try:
            out[name] = _result_hash(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — report-and-continue
            out[name] = ("ERROR", type(e).__name__, str(e)[:200])
    spark.stop()
    return out


PLAN_CALLS = 3

# ids Spark hands out per session or per call, not per plan shape:
# expression, plan and RDD ids, lambda variable suffixes, and the
# whole-stage-codegen and query-stage numbers, which AQE assigns in the
# order stages become ready (a reordered but identical plan keeps its
# operators, exchanges and join strategies, which stay compared)
_PLAN_IDS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"QueryStage \d+"), "QueryStage"),
)


def _normalized_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pattern, repl in _PLAN_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def _plan_sweep(out_dir: str, sf_dir: str) -> int:
    from mpi_mapreduce_spark.plans.registry import QUERIES
    from mpi_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="determinism-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    unstable = []
    for name, fn in QUERIES.items():
        plans = []
        for _ in range(PLAN_CALLS):
            try:
                df = fn(spark, sf_dir)
                df.collect()
                plans.append(_normalized_plan(df))
            except Exception as e:  # noqa: BLE001 — report-and-continue
                plans.append(f"ERROR {type(e).__name__}: {str(e)[:200]}")
        if len(set(plans)) > 1:
            unstable.append(name)
            print(f"UNSTABLE {name}")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plans[-1] + "\n")
    spark.stop()
    print(
        f"plans: {len(QUERIES) - len(unstable)}/{len(QUERIES)} stable over "
        f"{PLAN_CALLS} calls ({sf_dir}, {time.perf_counter() - t0:.0f}s); "
        f"unstable: {','.join(unstable) or '-'}"
    )
    return 1 if unstable else 0


def main() -> int:
    # --vary-aqe: additionally flip adaptive execution OFF in run A
    # and ON in run B, so the static plan and every AQE re-plan
    # (coalesced partitions, runtime join swaps, skew splits) must
    # produce the identical result
    vary_aqe = "--vary-aqe" in sys.argv
    argv = [x for x in sys.argv if x != "--vary-aqe"]
    plans_dir = None
    if "--plans" in argv:
        i = argv.index("--plans")
        plans_dir = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"
    if plans_dir is not None:
        return _plan_sweep(plans_dir, sf_dir)
    pa = int(argv[2]) if len(argv) > 2 else 8
    pb = int(argv[3]) if len(argv) > 3 else 32
    t0 = time.perf_counter()
    a = _sweep(sf_dir, pa, aqe=not vary_aqe)
    b = _sweep(sf_dir, pb, aqe=True)
    bad = []
    for name in a:
        if a[name] != b[name]:
            bad.append(name)
            print(f"NONDETERMINISTIC {name}:")
            print(f"  partitions={pa}: {a[name]}")
            print(f"  partitions={pb}: {b[name]}")
    errs = [n for n in a if a[n][0] == "ERROR" and n not in bad]
    for n in errs:
        print(f"ERROR-BOTH {n}: {a[n][1]} {a[n][2]}")
    mode = f"partitions {pa} (AQE {'off' if vary_aqe else 'on'}) vs {pb} (AQE on)"
    print(
        f"determinism: {len(a) - len(bad) - len(errs)}/{len(a)} "
        f"hash-identical at {mode} "
        f"({sf_dir}, {time.perf_counter() - t0:.0f}s)"
    )
    return 1 if (bad or errs) else 0


if __name__ == "__main__":
    sys.exit(main())
