"""Streaming CDC apply: a file-sourced change stream drives the
versioned snapshot to the same state as sequential batch merges, each
historical version stays readable, and a re-applied batch is a no-op."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from mpi_mapreduce_spark.operators.cdc import merge_upsert
from mpi_mapreduce_spark.streaming import cdc_apply as C

SCHEMA = "k BIGINT, s STRING, v DOUBLE, seq BIGINT, dead BOOLEAN"


def _write_change_file(spark, path: str, rows) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_apply_matches_sequential_batch_merge(spark, tmp_path):
    base = str(tmp_path / "snap")
    changes_dir = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")

    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k BIGINT, s STRING, v DOUBLE"
    )
    C.write_snapshot(initial, base, 0)

    batch1 = [
        (2, "b2", 21.0, 1, False),  # update
        (2, "b3", 22.0, 2, False),  # later update, same batch: wins
        (4, "d", 40.0, 3, False),  # insert
    ]
    batch2 = [
        (1, "a", 0.0, 4, True),  # tombstone
        (4, "d2", 41.0, 5, False),  # update the batch-1 insert
    ]
    _write_change_file(spark, changes_dir, batch1)
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    _write_change_file(spark, changes_dir, batch2)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(changes_dir)
    )
    q = C.apply_cdc_stream(
        spark, stream, base, ["k"], "seq", "dead", ckpt
    )
    q.awaitTermination(120)

    assert C.snapshot_versions(spark, base) == [0, 1, 2]
    final = {r.k: (r.s, r.v) for r in C.read_snapshot(spark, base).collect()}
    assert final == {2: ("b3", 22.0), 3: ("c", 30.0), 4: ("d2", 41.0)}

    # time travel: v1 state = initial + batch1 only
    v1 = {r.k: (r.s, r.v) for r in C.read_snapshot(spark, base, 1).collect()}
    assert v1 == {
        1: ("a", 10.0),
        2: ("b3", 22.0),
        3: ("c", 30.0),
        4: ("d", 40.0),
    }

    # equivalence with the batch path applied sequentially
    expect = initial
    for rows in (batch1, batch2):
        b = C.latest_per_key(
            spark.createDataFrame(rows, SCHEMA), ["k"], "seq"
        ).drop("seq")
        expect = merge_upsert(expect, b, ["k"], "dead")
    assert final == {r.k: (r.s, r.v) for r in expect.collect()}


def test_reapplied_batch_rewrites_same_version(spark, tmp_path):
    """Idempotence under re-delivery: applying batch 0 twice yields
    the identical v=1 (it reads v=0 both times)."""
    base = str(tmp_path / "snap")
    C.write_snapshot(
        spark.createDataFrame([(1, 5.0)], "k BIGINT, v DOUBLE"), base, 0
    )
    batch = spark.createDataFrame(
        [(1, 6.0, 1, False), (2, 7.0, 2, False)],
        "k BIGINT, v DOUBLE, seq BIGINT, dead BOOLEAN",
    )

    def apply_once():
        current = C.read_snapshot(spark, base, version=0)
        final = C.latest_per_key(batch, ["k"], "seq").drop("seq")
        C.write_snapshot(
            merge_upsert(current, final, ["k"], "dead"), base, 1
        )

    apply_once()
    first = sorted(tuple(r) for r in C.read_snapshot(spark, base, 1).collect())
    apply_once()
    again = sorted(tuple(r) for r in C.read_snapshot(spark, base, 1).collect())
    assert first == again == [(1, 6.0), (2, 7.0)]
    assert C.snapshot_versions(spark, base) == [0, 1]
