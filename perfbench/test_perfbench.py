"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import gen
import run
import tracing
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _file_hashes(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, d: gen.star_schema(seed, d, 0.002),
        lambda seed, d: gen.curation_corpus(seed, d, 200),
        lambda seed, d: gen.nightly_batches(seed, d, 2, 40, 20),
    ],
    ids=["star_schema", "curation_corpus", "nightly_batches"],
)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    m1 = make(7, str(tmp_path / "a"))
    m2 = make(7, str(tmp_path / "b"))
    m3 = make(8, str(tmp_path / "c"))
    assert m1 == m2
    a, b, c = (_file_hashes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_tables_match_fixture_names():
    assert set(gen.TABLES) == set(__import__("mpi_mapreduce_spark.datamodel").datamodel.TABLES)


def test_star_schema_writes_every_table_with_skewed_keys(tmp_path):
    meta = gen.star_schema(3, str(tmp_path), 0.01)
    assert set(meta["tables"]) == set(gen.TABLES)
    li = pd.read_parquet(tmp_path / "lineitem.parquet")
    counts = li["l_suppkey"].value_counts()
    # Zipf: the hottest supplier carries far more than a uniform share
    assert counts.iloc[0] > 5 * len(li) / meta["tables"]["supplier"]["rows"]


def test_curation_ground_truth_points_at_sources(tmp_path):
    meta = gen.curation_corpus(5, str(tmp_path), 300)
    docs = pd.read_parquet(tmp_path / "documents.parquet").set_index("doc_id")["text"]
    kinds = [k for _, _, k in meta["planted"]]
    assert kinds.count("replica") == 90 and kinds.count("near") == 60
    for copy_id, src_id, kind in meta["planted"]:
        if kind == "replica":
            assert docs[copy_id] == docs[src_id]
        else:
            a, b = docs[copy_id].split(), docs[src_id].split()
            assert a != b and len(a) == len(b)
            sh = lambda t: {tuple(t[i : i + 3]) for i in range(len(t) - 2)}  # noqa: E731
            assert len(sh(a) & sh(b)) / len(sh(a) | sh(b)) > 0.5


def test_digest_ignores_row_and_column_order_but_not_values():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.5, -0.0]})
    b = pd.DataFrame({"v": [0.0, 1.5], "k": ["y", "x"]})
    assert W.digest(a) == W.digest(b)
    assert W.digest(a) != W.digest(a.assign(v=[1.5, 1e-300]))
    assert W.digest(a) != W.digest(a.assign(v=[1, 0]))  # int vs float kind


def test_rows_only_check_accepts_subsets_of_exact_pairs():
    job = W.Job("pipeline_canonical_minhash", "dedup", ("documents",))
    exact = pd.DataFrame({"doc_a": [1, 2], "doc_b": [3, 4], "jaccard": [0.5, 0.75]})
    expected = {job.name: {"pairs": sorted(W._pair_keys(exact))}}
    assert W.check_output(job, exact.iloc[:1], expected) is None
    wrong = exact.assign(jaccard=[0.5, 0.7])
    assert W.check_output(job, wrong, expected) == "1 pairs not in the exact pair set"


def test_dup_recall_and_audit_violations():
    canon = pd.DataFrame({"doc_id": [0, 1, 2, 3], "component": [0, 0, 2, 3]})
    r = W.dup_recall(canon, [[1, 0, "replica"], [3, 2, "near"]])
    assert r == {"dup_recall": 0.5, "near_recall": 0.0, "replica_recall": 1.0, "planted": 2}
    rows = [
        {"leg": "pq", "counter": "n_code_rows", "value": 9},
        {"leg": "pq", "counter": "n_out_of_range_codes", "value": 0},
        {"leg": "ivf", "counter": "n_orphan_cell_rows", "value": 2},
    ]
    assert W.audit_violations(rows) == {"ivf.n_orphan_cell_rows": 2}


def test_tail_percentile_keeps_ten_samples_above():
    assert tracing.tail_percentile(list(range(19))) is None
    t = tracing.tail_percentile([float(x) for x in range(1, 41)])
    assert t == {"percentile": 75, "value": 30.0, "samples": 40}
    t = tracing.tail_percentile([float(x) for x in range(1, 101)])
    assert t["percentile"] == 90 and t["value"] == 90.0


def test_self_seconds_subtracts_children():
    tr = tracing.Tracer(enabled=True)
    tr.spans = [
        tracing.Span("job", "dedup", 0.0, 10.0, None, 0, {"phase": "p"}),
        tracing.Span("construct", "plans", 1.0, 4.0, 0, 1, {"phase": "p"}),
        tracing.Span("other", "plans", 3.0, 5.0, 0, 2, {"phase": "p"}),
        tracing.Span("skipped", "dedup", 0.0, 99.0, None, 3, {"phase": "q"}),
    ]
    assert tr.self_seconds({"p"}) == {"dedup": 6.0, "plans": 5.0}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runner_reports():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)
    wl = W.WORKLOADS["curation_batch"]
    meta = {"tables": {"documents": {"rows": 10}}}
    pass_ = {"jobs": {j.name: {"wall_s": 1.0, "construct_s": 0.5, "cpu_s": 2.0}
                      for j in wl.jobs}, "wall_s": 4.0}
    e2e, _ = run._end_to_end(wl, meta, 1.5, pass_, [pass_], 100.0)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert all(v > 0 for v, _ in e2e.values())
    stages = dict.fromkeys(tracing.STAGE_FIELDS, 1.0) | {"task_skew": 1.0}
    traced = {"jobs": {j.name: {"wall_s": 1.0, "construct_s": 0.5, "stages": stages}
                       for j in wl.jobs}, "wall_s": 4.0}
    ctx = {"workload": wl, "setup_s": 1.0, "traced": traced, "untraced": pass_,
           "single": pass_, "self_s": {}}
    per, _ = run._per_layer(ctx)
    assert list(per) == [m["name"] for m in bench["per_layer"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert all(units[k] == u for k, (_, u) in {**e2e, **per}.items())


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bench = _bench()
    p = subprocess.run(
        [sys.executable, *bench["command"][1:], "--workload",
         bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
