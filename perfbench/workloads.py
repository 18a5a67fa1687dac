"""Workload definitions, cached seeded inputs and output checks.

A job is one call ``QUERIES[name](spark, input_dir)`` whose result is
materialized with ``toPandas()``. Its output is checked, outside the
timed region, against a digest of the DuckDB oracle's answer on the
same inputs (``tests/oracle_harness.py``), computed once per seed and
cached beside the inputs.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import math
import os
import shutil
from dataclasses import dataclass

import gen


@dataclass(frozen=True)
class Job:
    name: str
    module: str  # the operator layer the job's code lives in
    tables: tuple[str, ...]  # tables it reads; their rows count as consumed


ANALYTICS_JOBS = (
    Job("map1_charclass", "mapreduce", ("documents",)),
    Job("map2_letterfreq", "mapreduce", ("documents",)),
    Job("q1_pricing_summary", "relational", ("lineitem",)),
    Job("q5_local_supplier_volume", "relational",
        ("customer", "orders", "lineitem", "supplier", "nation", "region")),
    Job("q18_large_volume_customers", "relational", ("customer", "orders", "lineitem")),
)

CURATION_JOBS = (
    Job("dedup_canonical_corpus", "dedup", ("documents",)),
    Job("pipeline_canonical_minhash", "dedup", ("documents",)),
    Job("text_bpe_encode", "textops", ("documents",)),
)

# Left out so that a run fits the time budget of a full benchmark round
# (a job costs about 3 s cold plus 1.5 s per warm pass on 4 shared
# cores): map3_synthetic, wordcount, q3_shipping_priority,
# q9_product_profit, q13_customer_order_distribution,
# q21_suppliers_kept_waiting, window_topk_suppliers; text_quality_score,
# pipeline_curate_corpus, dedup_substring_strip.

#: rows-only jobs: their output is checked for a stated invariant
#: against the oracle of their ``_validate`` twin (see check_output)
VALIDATE_TWIN = {"pipeline_canonical_minhash": "pipeline_canonical_minhash_validate"}

#: operator layers reported per module (tpch_full queries count as
#: relational)
MODULES = ("relational", "mapreduce", "dedup", "textops", "similarity", "sketches")

#: the nightly composite's legs in call order, with their module
NIGHT_LEGS = (
    ("bloom", "dedup"),
    ("minhash", "dedup"),
    ("substring", "dedup"),
    ("cms", "sketches"),
    ("embedding", "dedup"),
    ("ivf", "similarity"),
    ("pq", "similarity"),
    ("ann_lsh", "similarity"),
)
COMPACTION_LEGS = (("substring", "dedup"), ("minhash", "dedup"), ("embedding", "dedup"))

#: nightly sequence inside the analytics_batch traced run
NIGHTS, DOCS_PER_NIGHT, VECS_PER_NIGHT, COMPACT_AFTER_NIGHT = 2, 150, 80, 1

#: curation_state_audit counters that report sizes; every other
#: counter counts violations and must be zero
AUDIT_SIZE_COUNTERS = frozenset(
    {
        "n_rows", "n_word_rows", "n_vectors", "n_band_rows", "n_signatures",
        "n_cell_rows", "n_bucket_rows", "n_codebook_rows", "n_code_rows",
        "n_centroids", "n_files",
    }
)

#: engine code the benchmark cannot reach with seeded inputs
UNMEASURED = {
    "operators.multimodal": "builds its payloads inside each query, so no seed reaches it",
    "streaming": "has no batch entry point to drive from a closed loop",
}


@dataclass(frozen=True)
class Workload:
    name: str
    jobs: tuple[Job, ...]
    #: the JVM keeps compiling through the first warm passes; per-job
    #: best-of-passes needs the same pass count in every run
    min_warm_passes: int


WORKLOADS = {
    "analytics_batch": Workload(
        "analytics_batch",
        ANALYTICS_JOBS,
        3,
    ),
    "curation_batch": Workload(
        "curation_batch",
        CURATION_JOBS,
        2,
    ),
}

#: input sizes (star-schema scale factor; curation corpus docs)
ANALYTICS_SF = 0.05
CURATION_DOCS = 800


def _generate(workload: str, seed: int, out_dir: str) -> dict:
    if workload == "analytics_batch":
        return gen.star_schema(seed, out_dir, ANALYTICS_SF)
    return gen.curation_corpus(seed, out_dir, CURATION_DOCS)


def _cache_key(workload: Workload) -> str:
    """Inputs and expected digests depend on the generator, the sizes
    and the oracle SQL; any change to them invalidates the cache."""
    from mpi_mapreduce_spark.plans.registry import ORACLE

    h = hashlib.sha256(inspect.getsource(gen).encode())
    h.update(f"{ANALYTICS_SF}:{CURATION_DOCS}".encode())
    for job in workload.jobs:
        name = VALIDATE_TWIN.get(job.name, job.name)
        h.update(name.encode() + ORACLE[name].encode())
    return h.hexdigest()[:16]


def prepare(workload: Workload, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate (or reuse) the seed's inputs and expected digests;
    returns (table dir, meta)."""
    d = os.path.join(cache_root, f"{workload.name}-s{seed}-{_cache_key(workload)}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = _generate(workload.name, seed, os.path.join(tmp, "tables"))
        meta["expected"] = _expected(workload, os.path.join(tmp, "tables"))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as f:
        return os.path.join(d, "tables"), json.load(f)


def _expected(workload: Workload, table_dir: str) -> dict:
    from mpi_mapreduce_spark.plans.registry import ORACLE
    from tests.oracle_harness import run_oracle

    out = {}
    for job in workload.jobs:
        if job.name in VALIDATE_TWIN:
            odf = run_oracle(ORACLE[VALIDATE_TWIN[job.name]], table_dir)
            out[job.name] = {"pairs": sorted(_pair_keys(odf))}
        else:
            out[job.name] = {"digest": digest(run_oracle(ORACLE[job.name], table_dir))}
    return out


def _cell(v) -> str:
    # mirrors oracle_harness._cells_equal: floats by value (NaN equal
    # to NaN, -0.0 equal to 0.0), everything else by str()
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(float(v) + 0.0)
    return str(v)


def digest(df) -> str:
    """Order-insensitive digest of a result frame: equal exactly when
    ``oracle_harness.assert_frames_match`` would pass."""
    from tests.oracle_harness import _canon, _kind

    c = _canon(df)
    h = hashlib.sha256(repr([(col, _kind(c[col].dtype)) for col in c.columns]).encode())
    for col in c.columns:
        h.update(b"\x1f".join(_cell(v).encode() for v in c[col]) + b"\x1e")
    return h.hexdigest()


def _pair_keys(df) -> set[str]:
    return {
        f"{int(a)}:{int(b)}:{_cell(j)}"
        for a, b, j in zip(df["doc_a"], df["doc_b"], df["jaccard"])
    }


def check_output(job: Job, df, expected: dict) -> str | None:
    """None if the job's result is right, else what is wrong."""
    exp = expected[job.name]
    if "pairs" in exp:
        # LSH finds a subset of the exact pairs, each with its exact
        # Jaccard; the twin's oracle lists every exact pair
        extra = _pair_keys(df) - set(exp["pairs"])
        return f"{len(extra)} pairs not in the exact pair set" if extra else None
    got = digest(df)
    return None if got == exp["digest"] else f"digest {got[:12]} != oracle {exp['digest'][:12]}"


def oracle_diff(job: Job, df, table_dir: str) -> str:
    """Re-run the oracle and describe the first mismatch (slow path,
    only after a digest mismatch)."""
    from mpi_mapreduce_spark.plans.registry import ORACLE
    from tests.oracle_harness import assert_frames_match, run_oracle

    try:
        assert_frames_match(df, run_oracle(ORACLE[job.name], table_dir), job.name)
    except AssertionError as e:
        return str(e)[:500]
    return "digest mismatch without a frame mismatch"


def rows_per_pass(workload: Workload, meta: dict) -> int:
    t = meta["tables"]
    return sum(t[name]["rows"] for job in workload.jobs for name in job.tables)


def dup_recall(canonical_df, planted) -> dict:
    """Share of planted copies that dedup_canonical_corpus puts in the
    same cluster as their source, overall and per kind."""
    comp = dict(zip(canonical_df["doc_id"].astype(int), canonical_df["component"].astype(int)))
    hit: dict[str, list[int]] = {}
    for copy_id, src_id, kind in planted:
        hit.setdefault(kind, []).append(int(comp.get(copy_id, -1) == comp.get(src_id, -2)))
    allhits = [h for v in hit.values() for h in v]
    return {
        "dup_recall": sum(allhits) / len(allhits),
        **{f"{k}_recall": sum(v) / len(v) for k, v in sorted(hit.items())},
        "planted": len(allhits),
    }


def audit_violations(audit_rows) -> dict[str, int]:
    """Non-zero violation counters of a curation_state_audit result."""
    return {
        f"{r['leg']}.{r['counter']}": int(r["value"])
        for r in audit_rows
        if r["counter"] not in AUDIT_SIZE_COUNTERS and r["value"] != 0
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
