"""Streaming CDC apply: a change stream maintains a keyed snapshot.

Composes the batch merge primitive (operators/cdc.merge_upsert) with
Structured Streaming's foreachBatch: each micro-batch of change rows
(with a monotonic sequence column and a tombstone flag) collapses to
last-writer-wins per key and merges into snapshot version
`batch_id`, writing a NEW immutable version directory
`base/v=<batch_id+1>` — so re-delivered batches overwrite their own
version from the same input rather than corrupting state (idempotent
⇒ exactly-once downstream), and any historical version stays readable
(time travel).

The reference has no mutation or streaming at all (SURVEY.md §2.9);
this is the engine-side shape of a CDC-fed dimension table.

Scale notes (100 TB): each apply is one merge plan — anti join +
union, shuffling on the merge keys only (or map-side if the snapshot
is bucketed on them); versions are full snapshots here for
simplicity — at scale you'd write merged deltas + periodic compaction
(sources/io.compact_and_cluster) and track versions in a catalog
instead of directory listing.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from mpi_mapreduce_spark.operators.cdc import merge_upsert
from mpi_mapreduce_spark.sources.io import _list_dir

_VERSION_RE = re.compile(r"^v=(\d+)$")


def latest_per_key(
    batch: DataFrame, keys: Sequence[str], seq_col: str
) -> DataFrame:
    """Collapse a change batch to its final state per key: highest
    sequence wins (a batch may carry several changes to one key)."""
    w = W.partitionBy(*keys).orderBy(F.desc(seq_col))
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def snapshot_versions(spark: SparkSession, base: str) -> list[int]:
    """Sorted version numbers of the ``v=<n>`` entries under ``base``
    ([] when ``base`` is absent)."""
    return sorted(
        int(m.group(1))
        for name, _, _ in _list_dir(spark, base) or ()
        if (m := _VERSION_RE.match(name))
    )


def write_snapshot(df: DataFrame, base: str, version: int) -> None:
    df.write.mode("overwrite").parquet(os.path.join(base, f"v={version}"))


def read_snapshot(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Latest snapshot, or any retained historical version."""
    versions = snapshot_versions(spark, base)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {base}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return spark.read.parquet(os.path.join(base, f"v={v}"))


def apply_cdc_stream(
    spark: SparkSession,
    changes: DataFrame,
    base: str,
    keys: Sequence[str],
    seq_col: str,
    tombstone_col: str,
    checkpoint: str,
):
    """Drive the snapshot from a streaming DataFrame of change rows.
    Returns the StreamingQuery (caller awaits termination).

    Contract: the caller seeds `write_snapshot(initial, base, 0)`.
    Batch b then reads exactly version b and overwrites version b+1,
    so a batch re-delivered after checkpoint recovery rewrites its own
    output version from the same input — idempotent, no double-apply."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        current = read_snapshot(spark, base, version=batch_id)
        final = latest_per_key(batch_df, keys, seq_col).drop(seq_col)
        merged = merge_upsert(current, final, keys, tombstone_col)
        write_snapshot(merged, base, batch_id + 1)

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
