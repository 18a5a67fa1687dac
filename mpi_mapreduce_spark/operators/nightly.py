"""The ONE-callable nightly curation composite.

Eight nightly maintenance legs (text MinHash signatures, Bloom
filter, substring gram vocabulary, CMS frequency table, embedding
bucket index, IVF inverted file, PQ code table, ANN-LSH bucket table)
each keep one stored index under a shared state directory.
:func:`nightly_curation_update` runs any subset of them (``legs=``,
default all) against ONE batch as ONE nightly unit: one ingest per
modality, every selected leg's ledger-free core, then a single ledger
commit at the END, so the whole night is one atomic unit under the
crash-replay protocol (sources/io.py): a crash between ANY two legs
replays the entire night, every leg's batch-keyed overwrite rewrites
its own partition, and the state after the replay is byte-identical
to a crash-free run (pytest-pinned in tests/test_nightly_composite.py).

Generalizes the reference's single-shot job lifecycle (reference
main.cpp:129-308: read → map → shuffle → reduce → write, once) to the
recurring-ingest regime a 100 TB training-data pipeline actually runs:
same stages, plus a ledger so only tonight's bytes are touched and a
set of stored indexes so the corpus never is.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_mapreduce_spark.operators import dedup, similarity, sketches
from mpi_mapreduce_spark.sources.io import (
    _list_dir,
    committed_batch_keys,
    has_committed_parquet,
    ingest_incremental,
    reconcile_batch_partitions,
    record_ingested,
)

#: batch_dir subdirectories by modality — text legs read
#: ``docs/*.parquet`` (doc_id, text), vector legs read
#: ``vecs/*.parquet`` (vec_id, embedding); either may be absent or
#: quiet on a given night.
DOCS_SUBDIR = "docs"
VECS_SUBDIR = "vecs"

#: state_dir layout: one shared ledger, one index dir per leg, and
#: the weekly compaction's bucketed bases under ``serving/<leg>``
#: (each with its fold ledger at ``serving/<leg>_folded``).
LEDGER_SUBDIR = "ledger"
SERVING_SUBDIR = "serving"


class _Leg(NamedTuple):
    key: str  # output and timings key
    modality: str  # the batch_dir subdirectory the leg reads
    core: Callable[[SparkSession, DataFrame, str, str], DataFrame]
    subdir: str  # the leg's index dir under state_dir


#: the legs in run order: the cheap screen first, then the index legs
#: (perfbench's per-leg clock expects this order; each leg is
#: independent and replays idempotently on its own). The substring
#: leg's index keeps its historical ``grams`` directory so existing
#: state dirs still serve.
LEGS = (
    _Leg("bloom", DOCS_SUBDIR, dedup._nightly_bloom_core, "bloom"),
    _Leg("minhash", DOCS_SUBDIR, dedup._nightly_minhash_core, "minhash"),
    _Leg("substring", DOCS_SUBDIR, dedup._nightly_substring_core, "grams"),
    _Leg("cms", DOCS_SUBDIR, sketches._nightly_cms_core, "cms"),
    _Leg("embedding", VECS_SUBDIR, dedup._nightly_embedding_core, "embedding"),
    _Leg("ivf", VECS_SUBDIR, similarity._nightly_ivf_core, "ivf"),
    _Leg("pq", VECS_SUBDIR, similarity._nightly_pq_core, "pq"),
    _Leg("ann_lsh", VECS_SUBDIR, similarity._nightly_ann_lsh_core, "ann_lsh"),
)
#: index dir under state_dir, by leg key
STATE_SUBDIRS = {leg.key: leg.subdir for leg in LEGS}

#: the stored indexes the weekly compaction folds, as (timing leg,
#: index dir under state_dir, serving family of dedup._INDEX_FAMILIES);
#: each leg's bucketed base lives under ``state_dir/serving/<leg>``
COMPACTED_INDEXES = (
    ("substring", STATE_SUBDIRS["substring"], "grams"),
    ("minhash", STATE_SUBDIRS["minhash"], "mhband"),
    (
        "embedding",
        os.path.join(STATE_SUBDIRS["embedding"], "bands"),
        "embband",
    ),
)

#: maybe_weekly_curation_compaction folds once any family holds more
#: committed post-compaction deltas than this: one week of nightly
#: partitions, the point past which the broadcast-delta tier stops
#: being 'a few small frames'
MAX_DELTAS = 7


def _batch_key(files: list[str]) -> str:
    """Deterministic batch id over one modality's ingested file list
    ("b" prefix keeps partition-value inference from ever parsing an
    all-digit hash as a number): a replay over an unchanged file set
    recomputes the same key, so every leg overwrites its own
    partitions, and a new file in one modality can't change the other
    modality's key; changed-file-set replays are handled by ledger
    reconciliation (sources/io.py reconcile_batch_partitions)."""
    return (
        "b"
        + hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()[:16]
    )


def nightly_curation_update(
    spark: SparkSession,
    batch_dir: str,
    state_dir: str,
    timings: dict[str, float] | None = None,
    legs: Iterable[str] = tuple(STATE_SUBDIRS),
) -> tuple[dict[str, DataFrame] | None, list[str]]:
    """Run the selected nightly maintenance legs (default: all of
    :data:`LEGS`) against tonight's batch as ONE unit with ONE ledger
    commit.

    - ``batch_dir/docs/*.parquet`` (doc_id, text) feeds the four text
      legs: Bloom membership screen, MinHash signature index,
      substring gram vocabulary, CMS frequency table.
    - ``batch_dir/vecs/*.parquet`` (vec_id, embedding) feeds the four
      vector legs: embedding bucket index (bands + vectors), IVF
      inverted file (train-once quantizer + cell assignments), PQ
      code table (train-once codebooks + per-batch encodes), ANN-LSH
      bucket table (seeded hyperplanes, the trainless leg).
    - ``state_dir`` holds ONE ledger (shared across both modalities —
      ledger rows are absolute file paths, so the union is
      unambiguous) and one index directory per leg
      (:data:`STATE_SUBDIRS`).

    ``legs`` picks the legs to run, by output key; an unknown key or
    an empty selection raises ValueError before anything is listed or
    written. Only a modality with at least one selected leg is listed,
    keyed, reconciled and committed, so a vector-only selection leaves
    tonight's doc files for a later run. Drive one ``state_dir`` with
    ONE selection for its whole life: its ledger commits each file on
    behalf of the legs selected that night only, and a leg added later
    never sees the files committed before it.

    Atomicity and crash replay: the ingest ledger picks up only the
    files no ledger commit records. Every leg's core writes its
    artifact with overwrite under ``batch=<bkey>``, where bkey hashes
    that MODALITY's file list (text legs key on the doc files, vector
    legs on the vec files — ADVICE r9: a union key let a new vec file
    landing after a crash change the text legs' replay key), and
    every core's serving read EXCLUDES that partition. A crash after
    ANY prefix of the legs therefore replays the whole night with
    keyed overwrites — never a duplicate append, and never a batch
    matching its own persisted index — and reproduces byte-identical
    state and decisions. If the file set itself changed between crash
    and replay, the old-key partials are provable orphans (their key
    is in no ledger commit) and
    :func:`~mpi_mapreduce_spark.sources.io.reconcile_batch_partitions`
    drops them up front from the selected legs' index dirs, so the
    replayed night equals a crash-free run over the grown file set.
    The ledger commits LAST, keyed per modality, docs before vecs: a
    crash between the two commits replays only the vec legs (same
    key, keyed overwrite), never the text legs twice. Each leg's
    decisions are eagerly materialized (localCheckpoint inside the
    cores) BEFORE its artifact write.

    Pass ``timings`` (an empty dict) to receive each leg's wall
    seconds under its output key — meaningful because every core
    eagerly materializes its decisions AND writes its artifact before
    returning; the scale-rehearsal harness uses this for the per-leg
    splits in SCALING.md.

    Returns (dict of per-leg decision frames, keyed by leg — the
    columns are on each core: ``bloom`` (doc_id, bloom_seen,
    seen_in_batch, novel), ``minhash`` (doc_id, is_near_dup, keep),
    ``substring`` (doc_id, span_start, span_end, span_tokens),
    ``cms`` (tonight's partial sketch), ``embedding`` (vec_id,
    is_near_dup, keep), ``ivf`` (vec_id, cell, cosine), ``pq``
    (vec_id, m, code), ``ann_lsh`` (vec_id, bucket) — only the
    selected legs whose modality had new files; or None when nothing
    is new — and the list of ingested files)."""
    legs = set(legs)
    if not legs or legs - set(STATE_SUBDIRS):
        raise ValueError(
            f"legs must be a non-empty subset of {tuple(STATE_SUBDIRS)}; "
            f"got {sorted(legs)}"
        )
    selected = [leg for leg in LEGS if leg.key in legs]
    modalities = {leg.modality for leg in selected}

    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    # one ingest and one batch id PER MODALITY, docs before vecs
    batches: dict[str, tuple[DataFrame, list[str], str]] = {}
    for modality in (DOCS_SUBDIR, VECS_SUBDIR):
        src = os.path.join(batch_dir, modality)
        if modality in modalities:
            frame, files = ingest_incremental(spark, src, ledger)
            if files:
                batches[modality] = (frame, files, _batch_key(files))
    if not batches:
        return None, []

    # drop crashed partials whose key no ledger commit (and no
    # tonight's key) can account for — they'd otherwise escape the
    # cores' batch != bkey serving exclusion and get served as corpus
    reconcile_batch_partitions(
        spark,
        ledger,
        [os.path.join(state_dir, leg.subdir) for leg in selected],
        {bkey for _, _, bkey in batches.values()},
    )

    out: dict[str, DataFrame] = {}
    for leg in selected:
        if leg.modality not in batches:
            continue
        frame, _, bkey = batches[leg.modality]
        t0 = time.perf_counter()
        out[leg.key] = leg.core(
            spark, frame, bkey, os.path.join(state_dir, leg.subdir)
        )
        if timings is not None:
            timings[leg.key] = time.perf_counter() - t0

    for _, files, bkey in batches.values():
        record_ingested(spark, ledger, files, batch_key=bkey)
    return out, [f for _, files, _ in batches.values() for f in files]


def weekly_curation_compaction(
    spark: SparkSession,
    state_dir: str,
    timings: dict[str, float] | None = None,
) -> dict[str, int]:
    """The composite's WEEKLY maintenance twin (VERDICT r10 item 1):
    fold each heavy stored-index family of :data:`COMPACTED_INDEXES`
    — substring gram vocabulary, MinHash band table, embedding bucket
    index — into its bucketed co-located serving base + catalog fold
    ledger, so every subsequent :func:`nightly_curation_update` probes
    two-tier (base co-located and never re-shuffled, post-compaction
    partitions broadcast as deltas) instead of flat. Scheduling
    contract: run this weekly (or whenever the delta partition count
    grows past a handful); the nightly composite NEVER requires it —
    each leg's probe degrades to the flat shape whenever no valid
    compaction exists, per the serving ladder documented on
    :func:`~mpi_mapreduce_spark.operators.dedup._serving_tiers`.

    Only LEDGER-COMMITTED partitions fold (ADVICE r10, see
    :func:`~mpi_mapreduce_spark.operators.dedup.weekly_index_compaction`):
    a crashed night's partial must never enter a base the replay will
    probe. Serving table names are derived from each index path
    (dedup._serving_table) — the same derivation the nightly cores
    use — and the base files live under ``state_dir/serving/<leg>``,
    keeping the whole loop's state inside ``state_dir``.

    Returns {leg: folded partition count}; a leg with no committed
    partitions (or not yet created) reports 0 and its existing base,
    if any, stays valid. Pass ``timings`` to receive per-leg wall
    seconds (the SCALING.md harness contract)."""
    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    out: dict[str, int] = {}
    for leg, sub, family in COMPACTED_INDEXES:
        t0 = time.perf_counter()
        out[leg] = dedup.weekly_index_compaction(
            spark,
            os.path.join(state_dir, sub),
            family,
            ledger,
            os.path.join(state_dir, SERVING_SUBDIR, leg),
        )
        if timings is not None:
            timings[leg] = time.perf_counter() - t0
    return out


def maybe_weekly_curation_compaction(
    spark: SparkSession,
    state_dir: str,
    timings: dict[str, float] | None = None,
) -> dict[str, int] | None:
    """Policy-triggered form of :func:`weekly_curation_compaction`:
    compact when ANY family's post-compaction delta count exceeds
    :data:`MAX_DELTAS` (read at call time). The count is a schedule
    trigger, not a safety bound: the serving ladder itself byte-gates
    its delta broadcast (dedup.DELTA_BROADCAST_MAX_BYTES, 256 MB
    on-disk cap, see dedup._serving_tiers) and falls back to a plain
    shuffle join above it, so a week of unusually fat nights degrades
    to correct-but-shuffled serving rather than an oversized
    broadcast (ADVICE r12). A scheduler can simply call this after every
    :func:`nightly_curation_update` instead of maintaining its own
    calendar: no-op (returns None) while the delta tier is small, one
    fold when it isn't. Uncommitted partials never count as deltas
    (they are reconciliation's problem, not compaction's — and the
    fold itself only touches committed keys)."""
    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    committed, legacy = committed_batch_keys(spark, ledger)
    if legacy:
        return None  # cannot prove anything committed: never compact
    for _, sub, family in COMPACTED_INDEXES:
        folded, parts = dedup._fold_state(
            spark, os.path.join(state_dir, sub), family
        )
        deltas = [
            k for k in parts if k not in folded and k in committed
        ]
        if len(deltas) > MAX_DELTAS:
            return weekly_curation_compaction(
                spark, state_dir, timings=timings
            )
    return None


def curation_state_audit(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """One-callable DQ audit over the composite's whole state
    directory — the operational twin of :func:`nightly_curation_
    update`: a scheduler runs the update nightly and THIS weekly (or
    after any restore/surgery), because at 100 TB the stored indexes
    are production tables that rot like any other.

    Runs every per-family integrity audit that applies (gram index,
    Bloom table, embedding bands+vectors) plus structural counters
    for the remaining legs (MinHash signature rows, CMS cells, IVF
    centroids/cells, ledger entries, serving dirs that are neither a
    compacted leg's base nor its fold ledger) and returns ONE
    long-format frame ``(leg, counter, value)`` — greppable, diffable
    against yesterday's run, and empty-state-safe (absent legs simply
    contribute no rows)."""

    def _long(leg: str, row_df: DataFrame) -> DataFrame:
        # v can be NULL when a counter is an unguarded F.sum over an
        # empty-but-committed leg (zero-row docs file nights are
        # reachable); report 0, don't TypeError (ADVICE r9)
        row = row_df.collect()[0]
        return spark.createDataFrame(
            [
                (leg, k, int(v) if v is not None else 0)
                for k, v in row.asDict().items()
            ],
            "leg string, counter string, value long",
        )

    parts: list[DataFrame] = []

    grams = os.path.join(state_dir, STATE_SUBDIRS["substring"])
    if has_committed_parquet(spark, grams):
        parts.append(_long("grams", dedup.gram_index_integrity(spark, grams)))
    bloom = os.path.join(state_dir, STATE_SUBDIRS["bloom"])
    if has_committed_parquet(spark, bloom):
        parts.append(
            _long("bloom", dedup.bloom_filter_integrity(spark, bloom))
        )
    emb = os.path.join(state_dir, STATE_SUBDIRS["embedding"])
    if has_committed_parquet(spark, os.path.join(emb, "bands")) and (
        has_committed_parquet(spark, os.path.join(emb, "vectors"))
    ):
        parts.append(
            _long("embedding", dedup.embedding_index_integrity(spark, emb))
        )

    mh = os.path.join(state_dir, STATE_SUBDIRS["minhash"])
    if has_committed_parquet(spark, mh):
        sig = spark.read.parquet(mh)
        parts.append(
            _long(
                "minhash",
                sig.select(
                    F.count("*").alias("n_signatures"),
                    F.coalesce(
                        F.sum(
                            F.when(
                                sum(
                                    F.when(
                                        F.col(f"mh{i}").isNull(), 1
                                    ).otherwise(0)
                                    for i in range(dedup.MINHASH_HASHES)
                                )
                                > 0,
                                1,
                            ).otherwise(0)
                        ),
                        F.lit(0),
                    ).alias("n_incomplete_signatures"),
                ),
            )
        )
    cms = os.path.join(state_dir, STATE_SUBDIRS["cms"])
    if has_committed_parquet(spark, cms):
        t = spark.read.parquet(cms)
        parts.append(
            _long(
                "cms",
                t.select(
                    F.count("*").alias("n_cell_rows"),
                    F.coalesce(
                        F.sum(F.when(F.col("cnt") <= 0, 1).otherwise(0)),
                        F.lit(0),
                    ).alias("n_nonpositive_cells"),
                ),
            )
        )
    lsh = os.path.join(state_dir, STATE_SUBDIRS["ann_lsh"])
    if has_committed_parquet(spark, os.path.join(lsh, "buckets")):
        b = spark.read.parquet(os.path.join(lsh, "buckets"))
        parts.append(
            spark.createDataFrame(
                [
                    ("ann_lsh", "n_bucket_rows", b.count()),
                    (
                        "ann_lsh",
                        "n_out_of_range_buckets",
                        b.where(
                            (F.col("bucket") < 0)
                            | (F.col("bucket") >= (1 << similarity.LSH_BITS))
                        ).count(),
                    ),
                    (
                        "ann_lsh",
                        "n_multi_bucket_vectors",
                        b.groupBy("vec_id", "batch")
                        .count()
                        .where(F.col("count") != 1)
                        .count(),
                    ),
                ],
                "leg string, counter string, value long",
            )
        )

    pq = os.path.join(state_dir, STATE_SUBDIRS["pq"])
    if has_committed_parquet(spark, os.path.join(pq, "codebooks")):
        books = spark.read.parquet(os.path.join(pq, "codebooks"))
        rows = [("pq", "n_codebook_rows", books.count())]
        if has_committed_parquet(spark, os.path.join(pq, "codes")):
            codes = spark.read.parquet(os.path.join(pq, "codes"))
            rows.append(("pq", "n_code_rows", codes.count()))
            rows.append(
                (
                    "pq",
                    "n_out_of_range_codes",
                    codes.where(
                        (F.col("code") < 0) | (F.col("code") >= similarity.PQ_K)
                    ).count(),
                )
            )
            rows.append(
                (
                    "pq",
                    "n_incomplete_vectors",
                    codes.groupBy("vec_id", "batch")
                    .count()
                    .where(F.col("count") != similarity.PQ_M)
                    .count(),
                )
            )
        parts.append(
            spark.createDataFrame(
                rows, "leg string, counter string, value long"
            )
        )

    ivf = os.path.join(state_dir, STATE_SUBDIRS["ivf"])
    if has_committed_parquet(spark, os.path.join(ivf, "centroids")):
        cents = spark.read.parquet(os.path.join(ivf, "centroids"))
        counters = [F.count("*").alias("n_centroids")]
        if has_committed_parquet(spark, os.path.join(ivf, "cells")):
            cells = spark.read.parquet(os.path.join(ivf, "cells"))
            orphan = cells.join(
                cents.select("cell"), "cell", "left_anti"
            ).count()
            parts.append(
                spark.createDataFrame(
                    [
                        ("ivf", "n_centroids", cents.count()),
                        ("ivf", "n_cell_rows", cells.count()),
                        ("ivf", "n_orphan_cell_rows", orphan),
                    ],
                    "leg string, counter string, value long",
                )
            )
        else:
            parts.append(_long("ivf", cents.select(*counters)))
    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    if has_committed_parquet(spark, ledger):
        led = spark.read.parquet(ledger)
        parts.append(
            _long(
                "ledger",
                led.select(
                    F.count("*").alias("n_files"),
                    (
                        F.count("*") - F.countDistinct("file_path")
                    ).alias("n_duplicate_entries"),
                ),
            )
        )
    serving = _list_dir(spark, os.path.join(state_dir, SERVING_SUBDIR))
    if serving is not None:
        # a dir that is neither a compacted leg's base nor the base's
        # fold ledger beside it is dead bytes (e.g. the pre-rename
        # serving/grams): nothing serves or re-folds it
        live = {
            d
            for leg, _, _ in COMPACTED_INDEXES
            for d in (leg, f"{leg}_folded")
        }
        orphans = [
            d for d, is_dir, _ in serving if is_dir and d not in live
        ]
        parts.append(
            spark.createDataFrame(
                [("serving", "n_orphan_dirs", len(orphans))],
                "leg string, counter string, value long",
            )
        )

    if not parts:
        return spark.createDataFrame(
            [], "leg string, counter string, value long"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
