from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Small scale for unit tests; the oracle-harness default can be bumped
# via SPARK_GRAFT_TEST_SF_DIR to rehearse the driver's sf0.01 gate.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mpi_mapreduce_spark.session import get_spark

    s = get_spark(app_name="mpi_mapreduce_spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def drop_vec_file(spark, tmp_path, src, name, rows):
    """Stage a (vec_id, embedding) parquet file into a nightly-job src
    dir — shared by the embedding and IVF nightly-composite tests
    (was duplicated per test module; round-8 review finding)."""
    import os

    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "vstage"))
    part = next(
        f
        for f in os.listdir(str(tmp_path / "vstage"))
        if f.endswith(".parquet")
    )
    os.replace(str(tmp_path / "vstage" / part), os.path.join(src, name))


def axis_vec(i, dim=8, wiggle=0.0):
    """Unit vector along axis i%dim, optionally with a small second
    component — wiggle≈0.04 makes a near-duplicate of the clean axis
    (cosine ≈ 0.999), distinct axes stay orthogonal (cosine 0)."""
    v = [0.0] * dim
    v[i % dim] = 1.0
    if wiggle:
        v[(i + 1) % dim] = wiggle
    return v


def nightly_leg(spark, batch, state, leg):
    """Run ONE nightly leg through the composite — (``out[leg]``, or
    None when nothing is new; the ingested files)."""
    from mpi_mapreduce_spark.operators.nightly import nightly_curation_update

    out, files = nightly_curation_update(spark, batch, state, legs=(leg,))
    return (None if out is None else out[leg]), files
