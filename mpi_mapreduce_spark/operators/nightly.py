"""The ONE-callable nightly curation composite.

The per-modality nightly jobs (text MinHash signatures, Bloom filter,
substring gram vocabulary, CMS frequency table, embedding bucket
index, IVF inverted file, PQ code table) each carry their own
ingest + ledger so a
deployment can schedule any subset — but production runs them as ONE
nightly unit against ONE batch. :func:`nightly_curation_update`
composes every leg's ledger-free core over a single ingest with a
single ledger commit at the END, so the whole night is one atomic
unit under the crash-replay protocol (sources/io.py): a crash between
ANY two legs replays the entire night, every leg's batch-keyed
overwrite rewrites its own partition, and the state after the replay
is byte-identical to a crash-free run (pytest-pinned in
tests/test_nightly_composite.py).

Generalizes the reference's single-shot job lifecycle (reference
main.cpp:129-308: read → map → shuffle → reduce → write, once) to the
recurring-ingest regime a 100 TB training-data pipeline actually runs:
same stages, plus a ledger so only tonight's bytes are touched and a
set of stored indexes so the corpus never is.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: batch_dir subdirectories by modality — text legs read
#: ``docs/*.parquet`` (doc_id, text), vector legs read
#: ``vecs/*.parquet`` (vec_id, embedding); either may be absent or
#: quiet on a given night.
DOCS_SUBDIR = "docs"
VECS_SUBDIR = "vecs"

#: state_dir layout: one shared ledger + one index dir per leg.
LEDGER_SUBDIR = "ledger"
STATE_SUBDIRS = {
    "minhash": "minhash",
    "bloom": "bloom",
    "grams": "grams",
    "cms": "cms",
    "embedding": "embedding",
    "ivf": "ivf",
    "pq": "pq",
    "ann_lsh": "ann_lsh",
}

#: the stored indexes the weekly compaction folds, as (timing leg,
#: index dir under state_dir, serving family of dedup._INDEX_FAMILIES);
#: each leg's bucketed base lives under ``state_dir/serving/<leg>``
COMPACTED_INDEXES = (
    ("substring", STATE_SUBDIRS["grams"], "grams"),
    ("minhash", STATE_SUBDIRS["minhash"], "mhband"),
    (
        "embedding",
        os.path.join(STATE_SUBDIRS["embedding"], "bands"),
        "embband",
    ),
)


def nightly_curation_update(
    spark: SparkSession,
    batch_dir: str,
    state_dir: str,
    timings: dict[str, float] | None = None,
) -> tuple[dict[str, DataFrame] | None, list[str]]:
    """Run every nightly maintenance leg against tonight's batch as
    ONE unit with ONE ledger commit.

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
      unambiguous) and one index directory per leg.

    Atomicity: every leg's core writes its artifact under
    ``batch=<bkey>`` where bkey hashes that MODALITY's file list (text
    legs key on the doc files, vector legs on the vec files — ADVICE
    r9: a union key let a new vec file landing after a crash change
    the text legs' replay key), and every core's serving read EXCLUDES
    that partition — so a crash after ANY prefix of the legs replays
    the whole night with keyed overwrites and reproduces
    byte-identical state and decisions. If the file set itself changed
    between crash and replay, the old-key partials are provable
    orphans (their key is in no ledger commit) and
    :func:`~mpi_mapreduce_spark.sources.io.reconcile_batch_partitions`
    drops them up front, so the replayed night equals a crash-free run
    over the grown file set. The ledger commits LAST, keyed per
    modality: either a modality's night is recorded or none of it is.
    Each leg's decisions are eagerly materialized (localCheckpoint
    inside the cores) BEFORE its artifact write, preserving the
    per-leg discipline.

    Pass ``timings`` (an empty dict) to receive each leg's wall
    seconds under its output key — meaningful because every core
    eagerly materializes its decisions AND writes its artifact before
    returning; the scale-rehearsal harness uses this for the per-leg
    splits in SCALING.md.

    Returns (dict of per-leg decision frames — keys ``bloom``
    (doc_id, bloom_seen, seen_in_batch, novel), ``minhash`` (doc_id,
    is_near_dup, keep), ``substring`` (doc_id, span_start, span_end,
    span_tokens), ``cms`` (tonight's partial sketch), ``embedding``
    (vec_id, is_near_dup, keep), ``ivf`` (vec_id, cell, cosine),
    ``pq`` (vec_id, m, code), ``ann_lsh`` (vec_id, bucket) — only
    the legs whose modality had new files; or None when nothing is new — and the list of ingested
    files)."""
    from mpi_mapreduce_spark.operators.dedup import (
        _batch_key,
        _nightly_bloom_core,
        _nightly_embedding_core,
        _nightly_minhash_core,
        _nightly_substring_core,
    )
    from mpi_mapreduce_spark.operators.similarity import (
        _nightly_ann_lsh_core,
        _nightly_ivf_core,
        _nightly_pq_core,
    )
    from mpi_mapreduce_spark.operators.sketches import _nightly_cms_core
    from mpi_mapreduce_spark.sources.io import (
        list_new_files,
        reconcile_batch_partitions,
        record_ingested,
    )

    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    docs_src = os.path.join(batch_dir, DOCS_SUBDIR)
    vecs_src = os.path.join(batch_dir, VECS_SUBDIR)
    doc_files = (
        list_new_files(spark, docs_src, ledger, ".parquet")
        if os.path.isdir(docs_src)
        else []
    )
    vec_files = (
        list_new_files(spark, vecs_src, ledger, ".parquet")
        if os.path.isdir(vecs_src)
        else []
    )
    files = doc_files + vec_files
    if not files:
        return None, []
    # one batch id PER MODALITY: a composite replay over an unchanged
    # file set recomputes the same keys so every leg overwrites its
    # own partitions, and a new file in one modality can't perturb the
    # other modality's replay key (ADVICE r9)
    dkey = _batch_key(doc_files) if doc_files else None
    vkey = _batch_key(vec_files) if vec_files else None

    def _idx(leg: str) -> str:
        return os.path.join(state_dir, STATE_SUBDIRS[leg])

    # drop crashed partials whose key no ledger commit (and no
    # tonight's key) can account for — they'd otherwise escape the
    # cores' batch != bkey serving exclusion and get served as corpus
    reconcile_batch_partitions(
        spark,
        ledger,
        [_idx(leg) for leg in STATE_SUBDIRS],
        {k for k in (dkey, vkey) if k is not None},
    )

    import time as _time

    out: dict[str, DataFrame] = {}

    def _run(key: str, core, frame, bkey: str, leg: str) -> None:
        t0 = _time.perf_counter()
        out[key] = core(spark, frame, bkey, _idx(leg))
        if timings is not None:
            timings[key] = _time.perf_counter() - t0

    if doc_files:
        docs = spark.read.parquet(*doc_files)
        # screen first (the cheap pre-pass), then the index legs — the
        # order is documentation; each leg is independent and replays
        # idempotently on its own
        _run("bloom", _nightly_bloom_core, docs, dkey, "bloom")
        _run("minhash", _nightly_minhash_core, docs, dkey, "minhash")
        _run("substring", _nightly_substring_core, docs, dkey, "grams")
        _run("cms", _nightly_cms_core, docs, dkey, "cms")
    if vec_files:
        vecs = spark.read.parquet(*vec_files)
        _run("embedding", _nightly_embedding_core, vecs, vkey, "embedding")
        _run("ivf", _nightly_ivf_core, vecs, vkey, "ivf")
        _run("pq", _nightly_pq_core, vecs, vkey, "pq")
        _run("ann_lsh", _nightly_ann_lsh_core, vecs, vkey, "ann_lsh")

    # keyed commits, LAST; doc commit before vec commit — a crash
    # between the two replays only the vec modality (same vkey, keyed
    # overwrite), never double-runs the text legs
    if doc_files:
        record_ingested(spark, ledger, doc_files, batch_key=dkey)
    if vec_files:
        record_ingested(spark, ledger, vec_files, batch_key=vkey)
    return out, files


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
    import time as _time

    from mpi_mapreduce_spark.operators.dedup import weekly_index_compaction

    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    out: dict[str, int] = {}
    for leg, sub, family in COMPACTED_INDEXES:
        t0 = _time.perf_counter()
        out[leg] = weekly_index_compaction(
            spark,
            os.path.join(state_dir, sub),
            family,
            ledger,
            os.path.join(state_dir, "serving", leg),
        )
        if timings is not None:
            timings[leg] = _time.perf_counter() - t0
    return out


def maybe_weekly_curation_compaction(
    spark: SparkSession,
    state_dir: str,
    max_deltas: int = 7,
    timings: dict[str, float] | None = None,
) -> dict[str, int] | None:
    """Policy-triggered form of :func:`weekly_curation_compaction`:
    compact when ANY family's post-compaction delta count exceeds
    ``max_deltas`` (default 7 — one week of nightly partitions, the
    point past which the broadcast-delta tier stops being 'a few
    small frames'). The count is a schedule trigger, not a safety
    bound: the serving ladder itself byte-gates its delta broadcast
    (dedup.DELTA_BROADCAST_MAX_BYTES, 256 MB on-disk cap, see
    dedup._serving_tiers) and falls back to a plain shuffle join
    above it, so a week of unusually fat nights degrades to
    correct-but-shuffled serving rather than an oversized broadcast
    (ADVICE r12). A scheduler can simply call this after every
    :func:`nightly_curation_update` instead of maintaining its own
    calendar: no-op (returns None) while the delta tier is small, one
    fold when it isn't. Uncommitted partials never count as deltas
    (they are reconciliation's problem, not compaction's — and the
    fold itself only touches committed keys)."""
    from mpi_mapreduce_spark.operators.dedup import _fold_state
    from mpi_mapreduce_spark.sources.io import committed_batch_keys

    ledger = os.path.join(state_dir, LEDGER_SUBDIR)
    committed, legacy = committed_batch_keys(spark, ledger)
    if legacy:
        return None  # cannot prove anything committed: never compact
    for _, sub, family in COMPACTED_INDEXES:
        folded, parts = _fold_state(
            spark, os.path.join(state_dir, sub), family
        )
        deltas = [
            k for k in parts if k not in folded and k in committed
        ]
        if len(deltas) > max_deltas:
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
    centroids/cells, ledger entries) and returns ONE long-format
    frame ``(leg, counter, value)`` — greppable, diffable against
    yesterday's run, and empty-state-safe (absent legs simply
    contribute no rows)."""
    import os

    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators.dedup import (
        MINHASH_HASHES,
        bloom_filter_integrity,
        embedding_index_integrity,
        gram_index_integrity,
    )
    from mpi_mapreduce_spark.sources.io import has_committed_parquet

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

    grams = os.path.join(state_dir, STATE_SUBDIRS["grams"])
    if has_committed_parquet(grams):
        parts.append(_long("grams", gram_index_integrity(spark, grams)))
    bloom = os.path.join(state_dir, STATE_SUBDIRS["bloom"])
    if has_committed_parquet(bloom):
        parts.append(_long("bloom", bloom_filter_integrity(spark, bloom)))
    emb = os.path.join(state_dir, STATE_SUBDIRS["embedding"])
    if has_committed_parquet(os.path.join(emb, "bands")) and (
        has_committed_parquet(os.path.join(emb, "vectors"))
    ):
        parts.append(
            _long("embedding", embedding_index_integrity(spark, emb))
        )

    mh = os.path.join(state_dir, STATE_SUBDIRS["minhash"])
    if has_committed_parquet(mh):
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
                                    for i in range(MINHASH_HASHES)
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
    if has_committed_parquet(cms):
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
    if has_committed_parquet(os.path.join(lsh, "buckets")):
        from mpi_mapreduce_spark.operators.similarity import LSH_BITS

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
                            | (F.col("bucket") >= (1 << LSH_BITS))
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
    if has_committed_parquet(os.path.join(pq, "codebooks")):
        from mpi_mapreduce_spark.operators.similarity import PQ_K, PQ_M

        books = spark.read.parquet(os.path.join(pq, "codebooks"))
        rows = [("pq", "n_codebook_rows", books.count())]
        if has_committed_parquet(os.path.join(pq, "codes")):
            codes = spark.read.parquet(os.path.join(pq, "codes"))
            rows.append(("pq", "n_code_rows", codes.count()))
            rows.append(
                (
                    "pq",
                    "n_out_of_range_codes",
                    codes.where(
                        (F.col("code") < 0) | (F.col("code") >= PQ_K)
                    ).count(),
                )
            )
            rows.append(
                (
                    "pq",
                    "n_incomplete_vectors",
                    codes.groupBy("vec_id", "batch")
                    .count()
                    .where(F.col("count") != PQ_M)
                    .count(),
                )
            )
        parts.append(
            spark.createDataFrame(
                rows, "leg string, counter string, value long"
            )
        )

    ivf = os.path.join(state_dir, STATE_SUBDIRS["ivf"])
    if has_committed_parquet(os.path.join(ivf, "centroids")):
        cents = spark.read.parquet(os.path.join(ivf, "centroids"))
        counters = [F.count("*").alias("n_centroids")]
        if has_committed_parquet(os.path.join(ivf, "cells")):
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
    if os.path.isdir(ledger) and any(
        f.endswith(".parquet") for f in os.listdir(ledger)
    ):
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

    if not parts:
        return spark.createDataFrame(
            [], "leg string, counter string, value long"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
