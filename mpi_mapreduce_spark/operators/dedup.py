"""Deduplication operators over the ``documents`` / ``embeddings``
tables — the core of an LLM training-data pipeline.

Four families, each picked for a different scale/accuracy point:

- **exact** — hash/group on content; one shuffle, no false positives.
- **n-gram Jaccard (exact verify)** — pairwise Jaccard over word-3-gram
  shingle sets, *blocked* by length band so the candidate space is
  O(n·band) not O(n²). This is the exact counterpart the approximate
  methods are validated against (and it has a DuckDB oracle).
- **MinHash + LSH** — the 100 TB path: constant-size signatures,
  band-bucket equi-join for candidates, verify step confirms true
  Jaccard. No O(n²) anywhere; every stage is a shuffle-join on
  small keys.
- **SimHash** — 64-bit TF-weighted signature, 16-bit band blocking,
  Hamming-distance verify; cheapest signature, coarsest recall.
- **embedding cosine** — near-dup by semantic vector, length-band-free
  (bucketed by LSH in similarity.py; here exact within broadcast range).

Beyond whole-document pairs, the module covers the other granularities
a corpus pipeline needs: **containment** (asymmetric subset copies),
**repeated n-grams** (duplicated-passage exposure), **substring spans**
(maximal cross-doc repeated token runs — detection, per-doc stats, and
token-exact removal), **semantic dedup** (SemDeDup via k-means cells),
**incremental** batch-vs-corpus flagging with a replay-idempotent
nightly job, and **connected components → canonical corpus** keep/drop
emission; the composed ordering (exact collapse BEFORE signature
methods) is measured at 100× in SCALING.md.

Signature hashes are xxhash64 (engine-specific), so MinHash/SimHash
register rows-only with the driver; their recall vs. the exact
Jaccard op is pinned by tests instead (tests/test_dedup.py), and each
signature path's invariants are driver-attested via its banded
``*_validate`` twin.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager
from functools import reduce
from typing import NamedTuple

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window as W

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.functions import exact as ex
from mpi_mapreduce_spark.functions import text as TXT
from mpi_mapreduce_spark.functions import vectors as VEC

#: word-3-gram shingles; Jaccard ≥ 0.5 is "near-duplicate"
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
#: length-band width for exact-verify blocking (chars); near-dup docs
#: differ by only a few edits (≤8 chars observed), so band ±1 is a safe
#: blocking key while cutting the candidate space ~bands²-fold
LEN_BAND = 50

#: MinHash: 32 hash functions in 16 bands x 2 rows — P(candidate) =
#: 1-(1-j²)^16 ≈ 99% at j=0.5. CONFIRMED by the r7 measured sweep
#: (SCALING.md band-shape table; the sweep sets these two constants):
#: on a 100k planted corpus whose truth set hugs the 0.5
#: threshold this shape finds 1047/1049 (theorem-predicted 0.9987),
#: while 8 bands x 4 rows loses 17 pts of recall, 32x1 full-recall
#: banding explodes candidate mass 129x on a realistic j-distribution
#: (r=1's S-curve midpoint is j≈0.02), and 64 hashes double the
#: signature wire for +0.2 pt. The 16-hash half-wire tier (-1.7 pt)
#: is the alternative when signature shuffle payload dominates.
MINHASH_HASHES = 32
MINHASH_BANDS = 16

#: SimHash: hamming ≤ 3 with 4 x 16-bit bands (pigeonhole-complete)
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3

#: containment threshold: fraction of the SMALLER doc's shingles that
#: the pair shares — catches a short doc pasted inside a long one,
#: which symmetric Jaccard (and its length-band blocking) cannot see
CONTAINMENT_THRESHOLD = 0.8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup: every doc flagged as the canonical copy
    or a duplicate of an earlier one. Single shuffle, grouped on
    ``(xxhash64(content), content)``: the 8-byte hash leads the
    compound key so shuffle-sort comparisons resolve on the hash and
    touch the document bytes only for true duplicates (or the rare
    collision — the trailing content key IS the equality re-check, so
    collisions cannot merge groups). Semantics identical to grouping
    on content alone."""
    docs = _docs(spark, sf_dir)
    w = W.partitionBy(F.xxhash64("text"), F.col("text")).orderBy("doc_id")
    return docs.select(
        "doc_id",
        (F.row_number().over(w) > 1).alias("is_dup"),
    )


def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup summary — the aggregate a pipeline reports."""
    docs = _docs(spark, sf_dir)
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        (F.count("*") - F.countDistinct("text")).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (blocked) — the verify baseline
# ---------------------------------------------------------------------------

def _cap_hot_shingles(
    srows: DataFrame, max_shingle_df: int | None
) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap from the
    VOCABULARY — the shared production guard for every inverted-index
    self-join (work per shingle is df², so one boilerplate 3-gram with
    df=10⁶ at 100 TB would emit 10¹² pairs from a single join key).
    Semantics: similarity over the filtered shingle space, the standard
    stopword-filtered dedup convention. ``None`` disables (the exact,
    oracle-matched form).

    FUSED with the inverted-index build: df is an unordered COUNT
    window over the shingle partition, not a separate groupBy + semi-
    join. The window's ClusteredDistribution(s) is the SAME hash
    partitioning the downstream inverted-index self-join needs, so the
    exchange is shared and the guard costs one in-partition counting
    pass — near-free when no shingle crosses the cap. The previous
    aggregate+join form re-derived the shingle rows for the df branch
    and paid two extra shuffles on ``s``: measured 365 s capped vs
    220 s uncapped at 30× on a fixture where the cap was a no-op
    (SCALING.md round-4 table); the fused form closes that gap."""
    if max_shingle_df is None:
        return srows
    dfreq = F.count(F.lit(1)).over(W.partitionBy("s"))
    return (
        srows.withColumn("_df", dfreq)
        .where(F.col("_df") <= max_shingle_df)
        .drop("_df")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    max_shingle_df: int | None = None,
    srows: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.5, within ±1 length
    band (|floor(n_chars/50) difference| ≤ 1 — same blocking as the
    oracle's band expansion).

    Implementation is an inverted-index join on shingle ROWS: docs
    sharing a shingle pair up, intersections are a grouped count, and
    |A∪B| = |A|+|B|-|A∩B|. Work is proportional to Σ_shingle
    (docs sharing it)² — tiny for real corpora — instead of the
    band-pair cross product; and everything stays codegen'd. The
    previous array-intersect version evaluated interpreted
    higher-order jaccard over every banded pair: measured 425 s at
    sf0.1 vs ~3 s for this plan — exactly the quadratic trap §8 warns
    about. Pairs with zero shared shingles can't reach the 0.5
    threshold, so skipping them is semantics-preserving.

    ``max_shingle_df`` is the hot-shingle guard for 100 TB corpora: a
    stopword-like shingle shared by k docs contributes k² index-join
    rows, so one hot bucket can quadratically blow the stage. When
    set, shingles whose doc-frequency exceeds the cap are dropped from
    the VOCABULARY (both intersection and sizes — Jaccard over the
    filtered shingle space, the standard stopword-filtered dedup
    semantics); near-identical docs still share their distinctive
    shingles, so true near-dups survive while the quadratic bucket
    disappears. The registered query runs uncapped (exact, matching
    the DuckDB oracle); tests/test_dedup.py pins the capped behavior
    on planted hot-shingle data.

    ``srows``: optionally pass precomputed shingle rows for ``docs``
    (the persistable shingle INDEX — at 100 TB a pipeline materializes
    it once and feeds every inverted-index stage from it; see
    pipeline_canonical_containment). CONTRACT (ADVICE r13): if the
    frame carries a ``band`` column it is used AS-IS and ``docs`` is
    never consulted for bands — the caller must have derived it as
    ``floor(n_chars / LEN_BAND)`` over the SAME docs frame (the shape
    pipeline_canonical_containment persists); a band computed with a
    different width or against a different corpus silently changes
    the candidate set."""
    raw_path = srows is None
    if srows is not None and "band" in srows.columns:
        # caller persisted the index WITH its band column (the
        # pipeline_canonical_containment shape) — joining bands here
        # would re-derive the canonicalized docs frame per stage
        banded = srows
    else:
        bands = docs.select(
            "doc_id",
            (F.col("n_chars") / LEN_BAND).cast("long").alias("band"),
        )
        banded = (
            srows if srows is not None else shingle_rows(docs)
        ).join(bands, "doc_id")
    if raw_path:
        # Explicit s-partitioning ahead of the self-join (r14, guide
        # §2.1/§2.5): the shingle rows are small, so AQE coalesced the
        # join's exchange to 1-3 partitions — serializing the Σ_s df²
        # pair explode that happens DOWNSTREAM of it (AQE sizes the
        # exchange by its input bytes; it cannot see the quadratic
        # fan-out). A user-specified repartition pins the width, the
        # df-cap window and both join sides reuse the one exchange,
        # and the count scales with the cluster (defaultParallelism),
        # not a local constant. A/B at sf0.1, full
        # dedup_ngram_jaccard, min-of-3: 3.62 s → 2.62 s (every rep
        # improved), identical pairs. RAW PATH ONLY: callers feeding
        # a persisted index (pipeline_canonical_containment, the CC
        # family) measured SLOWER with the pin (2.9 → 6.2 s pipeline)
        # — their collapsed corpora have small pair volume, and the
        # pinned 32-wide stage tree loses to AQE's coalesced plan.
        banded = banded.repartition(
            banded.sparkSession.sparkContext.defaultParallelism, "s"
        )
    srows = _cap_hot_shingles(banded, max_shingle_df)
    sizes = srows.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = srows.select(
        F.col("doc_id").alias("doc_a"), F.col("band").alias("band_a"), "s"
    )
    b = srows.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band_b"), "s"
    )
    inter = (
        a.join(b, "s")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("band_a") - F.col("band_b")) <= 1)
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ni = F.col("ni").cast("double")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ex.quantize(ni / (F.col("na") + F.col("nb") - ni), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered exact form of :func:`ngram_jaccard_pairs` (uncapped
    vocabulary — bit-exact vs the DuckDB oracle)."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


#: cap used by the REGISTERED *_capped twins: tuned to the sf0.01
#: fixture's shingle-df distribution (max df 7; 2 of the 25 uncapped
#: containment pairs drop at cap 2) so the driver attests the
#: value-affecting filtered-vocabulary semantics — not a no-op pass
#: through the cap code path. Production caps scale with the corpus
#: (10⁴–10⁶ at 100 TB): the cap is a hot-KEY skew guard, not a
#: similarity knob (see SCALING.md's 30× cap study).
REGISTERED_DF_CAP = 2


def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested form of the PRODUCTION hot-shingle guard: the
    same filtered-vocabulary df-cap semantics the capped
    :func:`ngram_jaccard_pairs` runs at scale, with a full DuckDB
    oracle (the df filter is plain SQL) — upgrading the guard's
    evidence from pytest-only to a hash-matched CORRECTNESS row."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), max_shingle_df=REGISTERED_DF_CAP
    )


def _ngram_jaccard_oracle(source: str) -> str:
    """The banded ngram-Jaccard DuckDB oracle, parameterized by the
    (doc_id, text, n_chars) source relation so composed pipelines can
    run it over a canonicalized CTE instead of raw ``documents``.

    PRECONDITION (fixture contract, pinned by
    tests/test_dedup.py::test_fixture_has_no_tokenless_documents): the
    source contains no token-less (empty / whitespace-only) texts. For
    such docs the engine's shingle_rows emits NO shingles (nothing to
    near-dup), while this oracle's ELSE branch would give them the
    shingle set {''} and band 0 — pairing distinct whitespace-only
    texts the engine never will. Everything downstream of this CTE
    (the ngram-Jaccard query, both validates, the CC family, the
    composed pipelines) inherits the precondition. Filtering the sh
    CTE instead would re-open every downstream oracle's attestation;
    the precondition is asserted in pytest so a violating fixture
    regeneration fails loudly.

    Candidate generation (r13, VERDICT r12 item 5): pairs are drawn
    from an inverted shingle index (same-band docs sharing at least
    one shingle) instead of all same-band pairs. This pruning is
    LOSSLESS — JACCARD_THRESHOLD > 0, and any pair with positive
    Jaccard shares a shingle by definition — so the attestation is
    unchanged (the Jaccard itself is still recomputed from the full
    shingle lists per pair, byte-equal to the all-pairs form at
    sf0.01, pinned by tests/test_oracle_costs.py's budget), while the
    DuckDB cost drops from band-quadratic to candidate-mass — the
    same argument the engine's own index makes, which is exactly why
    it keeps oracle strength: only pairs that CANNOT qualify are
    skipped."""
    return f"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM {source}
    ), sh AS (
      SELECT doc_id, n_chars,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM toks
    ), banded AS (
      SELECT doc_id, sh, unnest([n_chars // {LEN_BAND}, n_chars // {LEN_BAND} + 1]) AS band
      FROM sh
    ), inv AS (
      SELECT doc_id, band, unnest(sh) AS s FROM banded
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM inv a JOIN inv b
        ON a.s = b.s AND a.band = b.band AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b, a.sh AS sha, b.sh AS shb
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
    )
    SELECT DISTINCT doc_a, doc_b,
           ROUND((len(list_intersect(sha, shb))::DOUBLE
                  / len(list_distinct(sha || shb))) * 1000000.0) / 1000000.0 AS jaccard
    FROM pairs
    WHERE ROUND((len(list_intersect(sha, shb))::DOUBLE
                 / len(list_distinct(sha || shb))) * 1000000.0) / 1000000.0
          >= {JACCARD_THRESHOLD}
"""


ORACLE_NGRAM_JACCARD = _ngram_jaccard_oracle("documents")


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

#: deterministic batch split for the registered query: every 10th doc
#: plays the "tonight's ingest" role, the rest the historical corpus
INCR_BATCH_MOD = 10


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    exact_candidates: DataFrame | None = None,
) -> DataFrame:
    """Per-batch-doc keep/drop decision against an EXISTING corpus —
    the shape a production ingest actually runs nightly: the historical
    corpus is never re-paired with itself (that work happened when it
    was ingested); only batch×corpus pairs are generated.

    - exact: left-semi join of batch text against distinct corpus
      text on the compound key ``(xxhash64(text), text)`` — the
      leading 8-byte hash resolves almost every comparison, the
      trailing text key is the equality re-check that makes hash
      collisions harmless.
    - near: the same inverted-index shingle join as
      dedup_ngram_jaccard, restricted to batch-left/corpus-right, with
      the ±1 length-band block. Work ∝ Σ_shingle |batch share|·|corpus
      share| — linear in the BATCH for a stable corpus, which is the
      whole point of the incremental form.

    Exact text equality implies identical shingle sets (Jaccard 1), so
    is_exact_dup ⊆ is_near_dup — asserted in tests.

    ``exact_candidates`` (a doc_id frame) restricts the EXACT leg's
    batch side — the hook the Bloom-screened pipeline uses: only
    possibly-seen docs pay the membership join. Correctness requires
    the candidate set to be a SUPERSET of the true exact-dups (the
    Bloom no-false-negative guarantee); the near leg always sees the
    whole batch (Bloom answers exact membership only)."""
    exact_side = (
        batch
        if exact_candidates is None
        else batch.join(exact_candidates.select("doc_id"), "doc_id")
    )
    batch_h = exact_side.withColumn("h", F.xxhash64("text"))
    corpus_keys = (
        corpus.select(F.xxhash64("text").alias("h"), "text").distinct()
    )
    exact_ids = (
        batch_h.join(corpus_keys, ["h", "text"], "left_semi")
        .select("doc_id")
        .withColumn("is_exact_dup", F.lit(True))
    )

    def _side(docs, id_alias):
        bands = docs.select(
            "doc_id", (F.col("n_chars") / LEN_BAND).cast("long").alias("band")
        )
        return (
            shingle_rows(docs)
            .join(bands, "doc_id")
            .select(
                F.col("doc_id").alias(id_alias),
                F.col("band").alias(f"band_{id_alias}"),
                "s",
            )
        )

    sb = _side(batch, "doc_b")
    sc = _side(corpus, "doc_c")
    sizes_b = sb.groupBy("doc_b").agg(F.count("*").alias("nb"))
    sizes_c = sc.groupBy("doc_c").agg(F.count("*").alias("nc"))
    inter = (
        sb.join(sc, "s")
        .where(F.abs(F.col("band_doc_b") - F.col("band_doc_c")) <= 1)
        .groupBy("doc_b", "doc_c")
        .agg(F.count("*").alias("ni"))
    )
    ni = F.col("ni").cast("double")
    near_ids = (
        inter.join(sizes_b, "doc_b")
        .join(sizes_c, "doc_c")
        .where(
            ex.quantize(ni / (F.col("nb") + F.col("nc") - ni), 6)
            >= JACCARD_THRESHOLD
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(exact_ids, "doc_id", "left")
        .join(near_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_exact_dup", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
        .withColumn(
            "keep", ~(F.col("is_exact_dup") | F.col("is_near_dup"))
        )
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-dedup query: every 10th doc is the
    incoming batch, the rest the historical corpus; each batch doc is
    flagged exact-dup / near-dup / keep against the corpus only."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    return dedup_against_corpus(batch, corpus)


ORACLE_DEDUP_INCREMENTAL = f"""
    WITH sh0 AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id, n_chars,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM sh0
    ), banded AS (
      SELECT doc_id, sh,
             unnest([n_chars // {LEN_BAND}, n_chars // {LEN_BAND} + 1]) AS band
      FROM sh
    ), near AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded b
        ON a.band = b.band
       AND a.doc_id % {INCR_BATCH_MOD} = 0
       AND b.doc_id % {INCR_BATCH_MOD} <> 0
      WHERE ROUND((len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh))) * 1000000.0) / 1000000.0
            >= {JACCARD_THRESHOLD}
    ), exact AS (
      SELECT DISTINCT b.doc_id
      FROM documents b
      WHERE b.doc_id % {INCR_BATCH_MOD} = 0
        AND EXISTS (SELECT 1 FROM documents c
                    WHERE c.doc_id % {INCR_BATCH_MOD} <> 0
                      AND c.text = b.text)
    )
    SELECT d.doc_id,
           d.doc_id IN (SELECT doc_id FROM exact) AS is_exact_dup,
           d.doc_id IN (SELECT doc_id FROM near) AS is_near_dup,
           NOT (d.doc_id IN (SELECT doc_id FROM exact)
                OR d.doc_id IN (SELECT doc_id FROM near)) AS keep
    FROM documents d
    WHERE d.doc_id % {INCR_BATCH_MOD} = 0
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed incremental near-dup — the plan a 100 TB ingest
    actually runs: the historical corpus is touched ONLY through its
    persisted MinHash signature table (32 longs/doc; here rebuilt from
    the fixture, in production read from the stored index), candidates
    come from a band-key equi-join of tonight's batch signatures
    against the index, and true Jaccard verifies only the candidate
    pairs (a semi-joined sliver of corpus shingles). Cost per night ∝
    batch + candidates, independent of corpus size.

    Same decision semantics as dedup_incremental (exact dups collide
    in every band, so they surface as near-dups with jaccard 1.0)
    modulo LSH recall, which is pinned vs the exact op in
    tests/test_dedup.py. Rows-only with the driver (xxhash64 isn't
    SQL)."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    srows_b = shingle_rows(batch)
    srows_c = shingle_rows(corpus)
    bands_b = minhash_band_keys(minhash_signature_table(srows_b)).select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_hash"
    )
    bands_c = minhash_band_keys(minhash_signature_table(srows_c)).select(
        F.col("doc_id").alias("doc_c"), "band_id", "band_hash"
    )
    cands = (
        bands_b.join(bands_c, ["band_id", "band_hash"])
        .select("doc_b", "doc_c")
        .distinct()
    )
    ra = srows_b.select(F.col("doc_id").alias("doc_b"), "s")
    rc = srows_c.select(F.col("doc_id").alias("doc_c"), "s")
    inter = (
        cands.join(ra, "doc_b")
        .join(rc, ["doc_c", "s"])
        .groupBy("doc_b", "doc_c")
        .agg(F.count("*").alias("ni"))
    )
    nb = srows_b.groupBy("doc_id").agg(F.count("*").alias("nb")).select(
        F.col("doc_id").alias("doc_b"), "nb"
    )
    nc = srows_c.groupBy("doc_id").agg(F.count("*").alias("nc")).select(
        F.col("doc_id").alias("doc_c"), "nc"
    )
    ni = F.col("ni").cast("double")
    near = (
        inter.join(nb, "doc_b")
        .join(nc, "doc_c")
        .where(
            ex.quantize(ni / (F.col("nb") + F.col("nc") - ni), 6)
            >= JACCARD_THRESHOLD
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
        .withColumn("keep", ~F.col("is_near_dup"))
    )


def dedup_incremental_minhash_validate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded attestation of the index-backed incremental path: the
    SQL-checkable columns are dedup_incremental's exact decisions
    (is_exact_dup / is_near_dup / keep — the ORACLE_DEDUP_INCREMENTAL
    derivation), plus ``mh_implies_true_dup`` — the PRECISION
    invariant of :func:`dedup_incremental_minhash`: every batch doc
    the minhash path flags must have a true UNBANDED Jaccard ≥ 0.5
    partner in the corpus, because the minhash pipeline verifies its
    band-key candidates at TRUE Jaccard before flagging. TRUE by
    theorem; recall misses (a true pair whose bands never collide)
    leave the implication vacuously true and stay pytest-pinned.

    The unbanded true-dup set is recomputed via a direct
    inverted-index shingle join — no signatures, no band keys, no
    length bands, an independent code path from the minhash pipeline —
    so a precision bug anywhere in signatures/banding/verify flips the
    flag FALSE. (Unbanded, because the minhash path has no length-band
    block: it may legitimately flag a cross-band pair the banded exact
    query misses.) The oracle recomputes the exact columns and pins
    the flag literal TRUE."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    sb = shingle_rows(batch).select(F.col("doc_id").alias("doc_b"), "s")
    sc = shingle_rows(corpus).select(F.col("doc_id").alias("doc_c"), "s")
    nb = sb.groupBy("doc_b").agg(F.count("*").alias("nb"))
    nc = sc.groupBy("doc_c").agg(F.count("*").alias("nc"))
    inter = (
        sb.join(sc, "s").groupBy("doc_b", "doc_c").agg(F.count("*").alias("ni"))
    )
    ni = F.col("ni").cast("double")
    true_dup = (
        inter.join(nb, "doc_b")
        .join(nc, "doc_c")
        .where(
            ex.quantize(ni / (F.col("nb") + F.col("nc") - ni), 6)
            >= JACCARD_THRESHOLD
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("has_true_dup", F.lit(True))
    )
    exact = dedup_incremental(spark, sf_dir)
    mh = dedup_incremental_minhash(spark, sf_dir).select(
        "doc_id", F.col("is_near_dup").alias("mh_near")
    )
    return (
        exact.join(mh, "doc_id")
        .join(true_dup, "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            "is_near_dup",
            "keep",
            (
                ~F.col("mh_near")
                | F.coalesce("has_true_dup", F.lit(False))
            ).alias("mh_implies_true_dup"),
        )
    )


# banded shape: exact decisions recomputed (the dedup_incremental
# oracle, wrapped), precision invariant pinned TRUE (the xxhash64
# minhash signatures aren't SQL-expressible)
ORACLE_INCREMENTAL_MINHASH_VALIDATE = f"""
    SELECT doc_id, is_exact_dup, is_near_dup, keep,
           TRUE AS mh_implies_true_dup
    FROM ({ORACLE_DEDUP_INCREMENTAL})
"""


#: signature-estimated Jaccard: fraction of agreeing minhash slots
#: (E[fraction] = true J); at 32 hashes the 0.5 cut is ≥ 16 matches
EST_JACCARD_MIN_MATCHES = MINHASH_HASHES // 2


def _nightly_minhash_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The MinHash leg of :func:`~mpi_mapreduce_spark.operators.
    nightly.nightly_curation_update` (ledger, batch key and crash
    replay are the composite's): flag each doc of ``batch`` against
    the stored SIGNATURE INDEX (band-key candidates, then
    signature-estimated Jaccard — the corpus is never re-read, only
    its 32-longs/doc index) AND against the rest of tonight's batch (a
    band self-join of the new signatures, keep-first: the lower doc_id
    of an intra-batch near-dup pair keeps, the higher drops — without
    this, two near-identical docs arriving the same night would both
    persist forever, since the ledger never re-examines their files);
    append tonight's signatures under ``batch=<bkey>``.

    The match side EXCLUDES tonight's own partition, so a replayed
    batch can never match its own persisted signatures (which would
    flip every replayed doc to 32/32-self-match = drop). Returns eager
    decisions — doc_id, is_near_dup, keep — materialized BEFORE the
    index write."""
    import os

    # one batch-sized materialization: signatures feed the index write,
    # both sides of the intra-batch join, and the cross verify
    sig_new = minhash_signature_table(shingle_rows(batch)).localCheckpoint()

    b = sig_new.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"b{i}") == F.col(f"c{i}"), 1).otherwise(0)
        for i in range(MINHASH_HASHES)
    )
    bands_n = minhash_band_keys(sig_new)

    # intra-batch near-dups: band self-join, keep-first (doc_c < doc_b
    # → doc_b is the dup); verified at signature-estimated Jaccard
    intra_cands = (
        bands_n.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
        .join(
            bands_n.select(
                F.col("doc_id").alias("doc_c"), "band_id", "band_hash"
            ),
            ["band_id", "band_hash"],
        )
        .where(F.col("doc_c") < F.col("doc_b"))
        .select("doc_b", "doc_c")
        .distinct()
    )
    c_new = sig_new.select(
        F.col("doc_id").alias("doc_c"),
        *[F.col(f"mh{i}").alias(f"c{i}") for i in range(MINHASH_HASHES)],
    )
    near = (
        intra_cands.join(b, "doc_b")
        .join(c_new, "doc_c")
        .where(matches >= EST_JACCARD_MIN_MATCHES)
        .select(F.col("doc_b").alias("doc_id"))
    )

    # candidate probe against the stored corpus: two-tier through the
    # weekly fold ledger when a valid compaction exists (no per-night
    # band derivation over the full signature index — VERDICT r10
    # item 1), flat band derivation otherwise; excludes tonight's own
    # partition on every rung (crash-replay exclusion)
    cross_cands = _minhash_cross_candidates(
        spark,
        bands_n.select(
            F.col("doc_id").alias("doc_b"), "band_id", "band_hash"
        ),
        index_dir,
        exclude=bkey,
    )
    if cross_cands is not None:
        # the estimated-Jaccard rescore needs the mh columns, which
        # only the signature partitions carry: an inner join against
        # the candidates touches only the candidate doc_cs
        sig_old = (
            spark.read.parquet(index_dir)
            .where(F.col("batch") != F.lit(bkey))
            .select("doc_id", *[f"mh{i}" for i in range(MINHASH_HASHES)])
        )
        c_old = sig_old.select(
            F.col("doc_id").alias("doc_c"),
            *[F.col(f"mh{i}").alias(f"c{i}") for i in range(MINHASH_HASHES)],
        )
        near = near.unionByName(
            cross_cands.join(b, "doc_b")
            .join(c_old, "doc_c")
            .where(matches >= EST_JACCARD_MIN_MATCHES)
            .select(F.col("doc_b").alias("doc_id"))
        )

    near = near.distinct().withColumn("is_near_dup", F.lit(True))
    decisions = (
        batch.select("doc_id")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
        .withColumn("keep", ~F.col("is_near_dup"))
        .localCheckpoint()
    )
    sig_new.write.mode("overwrite").parquet(
        os.path.join(index_dir, f"batch={bkey}")
    )
    return decisions


# ---------------------------------------------------------------------------
# Bloom-filter membership screen — the O(1)-memory incremental pre-pass
# ---------------------------------------------------------------------------

#: m — filter size in bits. 2^16 here (2048 packed words ≈ 16 KiB);
#: at 100 TB the same construction scales m with the corpus (1e10
#: keys at 10 bits/key ≈ 12 GiB = ~4e8 word rows — a table PARTITIONED
#: BY word range that the screen equi-joins, never a driver object).
BLOOM_BITS = 1 << 16

#: bits packed per BIGINT word. 32 keeps every shift result strictly
#: positive in BOTH engines (bit 63 of a BIGINT flips the sign in
#: Spark and overflows DuckDB's checked <<), so the packed words
#: hash-compare across engines with no sign gymnastics.
BLOOM_WORD_BITS = 32

#: k — hash probes per key, double-hashing h1 + i·h2 (Kirsch &
#: Mitzenmacher 2006: two base hashes simulate k independent ones
#: with no loss in the asymptotic false-positive rate).
BLOOM_HASHES = 4


def _bloom_positions(key: F.Column, m_bits: int) -> list[F.Column]:
    """The k bit positions of ``key`` — pure md5 arithmetic, computed
    IDENTICALLY by Spark and DuckDB (the repo's cross-engine hash
    convention, similarity.py's md5-ordered IVF sample precedent):
    h1/h2 are the two 60-bit halves of md5(key); position i is
    (h1 + i·h2) mod m. 60-bit halves + i small stay far below 2^63,
    so the arithmetic never overflows in either engine. ``m_bits`` is
    BLOOM_BITS for the doc-level filter and NOVELTY_BLOOM_BITS for the
    shingle-level one; k is BLOOM_HASHES."""
    h1 = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(key), 17, 15), 16, 10).cast("long")
    return [
        (h1 + F.lit(i) * h2) % F.lit(m_bits)
        for i in range(BLOOM_HASHES)
    ]


def bloom_build(
    keys: DataFrame,
    key_col: str = "text",
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Build the packed Bloom filter table ``(word, bits)`` over a key
    column — the stored ARTIFACT of this family.

    Scale shape: explode each key into its k positions, then a single
    bit_or groupBy packs them into words. bit_or is idempotent,
    commutative and associative, so partial aggregation collapses each
    map partition to ≤ m/32 rows before the shuffle — the shuffle
    carries at most (partitions × live words) rows regardless of key
    count. The same property makes SHARD MERGE free: filters built
    over disjoint shards union to the corpus filter by one more
    bit_or groupBy (pytest-pinned), which is how 1000 executors build
    a 100 TB filter with no global pass."""
    pos = keys.select(
        F.explode(
            F.array(*_bloom_positions(F.col(key_col), m_bits))
        ).alias("pos")
    )
    return pos.groupBy(
        F.floor(F.col("pos") / F.lit(BLOOM_WORD_BITS))
        .cast("long")
        .alias("word")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            )
        ).alias("bits")
    )


def bloom_merge(filters: DataFrame) -> DataFrame:
    """OR-merge a union of per-shard filter tables into one filter:
    the mergeable-sketch identity (HLL union / histogram sum analog)
    for membership. merge(build(A) ∪ build(B)) ≡ build(A ∪ B)."""
    return filters.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_screen(batch: DataFrame, bloom: DataFrame) -> DataFrame:
    """Membership screen: per batch row, ``bloom_seen`` = all k probed
    bits set. One equi-join on word id — the batch side carries
    k rows per key, the filter side is the stored table; no text
    moves, no corpus scan. Guarantee: NO false negatives (a key whose
    bits were all set at build time always reports seen); false
    positives at rate ≈ (1 - e^{-kn/m})^k are the price, which is why
    this is the PRE-pass in front of the exact incremental join, not
    a replacement for it."""
    probes = batch.select(
        "doc_id",
        F.explode(
            F.array(*_bloom_positions(F.col("text"), BLOOM_BITS))
        ).alias("pos"),
    ).select(
        "doc_id",
        F.floor(F.col("pos") / F.lit(BLOOM_WORD_BITS))
        .cast("long")
        .alias("word"),
        (F.col("pos") % BLOOM_WORD_BITS).cast("int").alias("bit"),
    )
    hits = probes.join(bloom, "word", "left").select(
        "doc_id",
        F.expr(
            "CAST((shiftright(coalesce(bits, CAST(0 AS BIGINT)), bit) & 1)"
            " = 1 AS INT)"
        ).alias("hit"),
    )
    return hits.groupBy("doc_id").agg(
        (F.min("hit") == 1).alias("bloom_seen")
    )


def dedup_bloom_filter_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered ARTIFACT query: the packed ``(word, bits)`` Bloom
    filter over the historical corpus (the non-batch side of the
    standing INCR_BATCH_MOD split) — the table a nightly ingest loads
    to screen tonight's batch before paying the exact join. Fully
    hash-attested: the md5 double-hashing and the 32-bit word packing
    are mirrored literally in DuckDB."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    return bloom_build(corpus)


def dedup_incremental_bloom(
    spark: SparkSession, sf_dir: str, bloom: DataFrame | None = None
) -> DataFrame:
    """Registered screen query: tonight's batch (every
    INCR_BATCH_MOD-th doc) tested against the corpus Bloom filter,
    alongside ground truth so the filter's contract is attested in
    the output itself: ``bloom_seen`` (the k-probe verdict),
    ``in_corpus`` (exact membership via the compound-key semi join),
    and ``is_fp`` (= bloom_seen ∧ ¬in_corpus, the bounded price).
    No-false-negative (in_corpus ⇒ bloom_seen) holds row-for-row in
    the hash-compared output. Pass ``bloom`` to serve from the STORED
    dedup_bloom_filter_table artifact instead of rebuilding
    (stored-vs-recomputed equality pytest-pinned, same contract as
    the ANN-LSH / IVF / embedding-index stored paths)."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    if bloom is None:
        bloom = bloom_build(corpus)
    seen = bloom_screen(batch, bloom)
    exact = (
        batch.withColumn("h", F.xxhash64("text"))
        .join(
            corpus.select(F.xxhash64("text").alias("h"), "text").distinct(),
            ["h", "text"],
            "left_semi",
        )
        .select("doc_id")
        .withColumn("in_corpus", F.lit(True))
    )
    return (
        seen.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_seen",
            F.coalesce("in_corpus", F.lit(False)).alias("in_corpus"),
        )
        .withColumn(
            "is_fp", F.col("bloom_seen") & ~F.col("in_corpus")
        )
    )


_BLOOM_CTE = f"""
    WITH corpus AS (
      SELECT DISTINCT text FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
    ), ch AS (
      SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(text), 17, 15))::BIGINT AS h2
      FROM corpus
    ), cpos AS (
      SELECT (h1 + i * h2) % {BLOOM_BITS} AS pos
      FROM ch CROSS JOIN (
        SELECT unnest(range({BLOOM_HASHES})) AS i
      )
    ), bloom AS (
      SELECT pos // {BLOOM_WORD_BITS} AS word,
             bit_or(1::BIGINT << (pos % {BLOOM_WORD_BITS})::INT) AS bits
      FROM cpos GROUP BY 1
    )
"""

ORACLE_BLOOM_FILTER_TABLE = _BLOOM_CTE + """
    SELECT word, bits FROM bloom
"""

ORACLE_INCREMENTAL_BLOOM = _BLOOM_CTE + f"""
    , batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0
    ), bh AS (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(text), 17, 15))::BIGINT AS h2
      FROM batch
    ), bprobe AS (
      SELECT doc_id, (h1 + i * h2) % {BLOOM_BITS} AS pos
      FROM bh CROSS JOIN (
        SELECT unnest(range({BLOOM_HASHES})) AS i
      )
    ), hits AS (
      SELECT p.doc_id,
             CASE WHEN b.bits IS NOT NULL
                   AND ((b.bits >> (p.pos % {BLOOM_WORD_BITS})::INT) & 1) = 1
                  THEN 1 ELSE 0 END AS hit
      FROM bprobe p
      LEFT JOIN bloom b ON p.pos // {BLOOM_WORD_BITS} = b.word
    ), seen AS (
      SELECT doc_id, MIN(hit) = 1 AS bloom_seen FROM hits GROUP BY doc_id
    )
    SELECT s.doc_id, s.bloom_seen,
           EXISTS (SELECT 1 FROM corpus c
                   WHERE c.text = (SELECT text FROM batch b2
                                   WHERE b2.doc_id = s.doc_id)) AS in_corpus,
           s.bloom_seen AND NOT EXISTS
             (SELECT 1 FROM corpus c
              WHERE c.text = (SELECT text FROM batch b2
                              WHERE b2.doc_id = s.doc_id)) AS is_fp
    FROM seen s
"""


def novelty_scores(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Per-batch-doc NOVELTY: the fraction of the doc's distinct
    word-3-gram shingles that appear in NO corpus doc — the continuous
    complement to the binary is_exact_dup / is_near_dup flags, and the
    signal a curation pipeline ranks on when it prefers novel data
    over yet-another-boilerplate page (novelty 1 = nothing seen
    before, 0 = every shingle already in the corpus).

    Scale shape: one distinct over the corpus shingles, then a
    broadcast-free left join on the shingle string (at 100 TB the key
    becomes xxhash64(s) — 8 bytes through the shuffle, the repo's
    standing convention for string shuffle keys) and a per-doc mean.
    Work is linear in batch shingles + corpus shingles; there is no
    pairwise term at all, which is what separates this from
    containment (that op answers "which corpus doc covers me",
    this one answers "how much of me is new anywhere")."""
    seen = corpus.transform(shingle_rows).select("s").distinct()
    flags = (
        shingle_rows(batch)
        .join(seen.withColumn("seen", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return flags.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        ex.quantize(
            F.col("n_novel").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty"),
    )


def dedup_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: novelty of tonight's batch (the standing
    INCR_BATCH_MOD split) against the historical corpus."""
    docs = _docs(spark, sf_dir)
    return novelty_scores(
        docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0),
        docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0),
    )


ORACLE_NOVELTY_SCORE = f"""
    WITH sh0 AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM sh0 WHERE len(tok) > 0
    ), seen AS (
      SELECT DISTINCT unnest(sh) AS s FROM sh
      WHERE doc_id % {INCR_BATCH_MOD} <> 0
    ), batch_sh AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
      WHERE doc_id % {INCR_BATCH_MOD} = 0
    ), flags AS (
      SELECT b.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN seen.s IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM batch_sh b LEFT JOIN seen ON b.s = seen.s
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           ROUND((n_novel::DOUBLE / n_shingles) * 1000000.0) / 1000000.0
             AS novelty
    FROM flags
"""


#: shingle-level filter size — a SEPARATE constant from the doc-level
#: BLOOM_BITS because the key population is ~50× larger (every
#: distinct word-3-gram, not every distinct text). 2^22 bits keeps
#: the fixture corpora (15k-27k shingles) at ≲0.03 load → FP ≈ 0,
#: i.e. the registered query is near-exact; the 100k sweep sizes m
#: by the same bits/key formula (SCALING.md round-8: 2^26 at 5.2M
#: shingles). An undersized filter is not WRONG — the error stays
#: one-sided — but a saturated one estimates novelty ≈ 0 everywhere,
#: which is useless for ranking.
NOVELTY_BLOOM_BITS = 1 << 22


def novelty_scores_bloom(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Novelty estimated against a Bloom filter of the CORPUS SHINGLE
    SET instead of the shingle set itself — the membership sketch
    generalized from doc-level to feature-level screening. At 100 TB
    the exact path's ``seen`` table is the corpus's distinct shingles
    (same order of magnitude as the corpus); this path replaces it
    with a fixed-size filter a nightly job maintains by bit_or append.
    Bloom false positives mark some truly-novel shingles as seen, so
    the estimate can only UNDERESTIMATE novelty — never inflate it
    (n_novel_est ≤ n_novel, pytest-pinned against the exact op; the
    expected gap is the measured FP curve, SCALING.md round-8)."""
    filt = bloom_build(
        corpus.transform(shingle_rows).select("s"),
        key_col="s",
        m_bits=NOVELTY_BLOOM_BITS,
    )
    probes = (
        shingle_rows(batch)
        .select(
            "doc_id",
            "s",
            F.explode(
                F.array(*_bloom_positions(F.col("s"), NOVELTY_BLOOM_BITS))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "s",
            F.floor(F.col("pos") / F.lit(BLOOM_WORD_BITS))
            .cast("long")
            .alias("word"),
            (F.col("pos") % BLOOM_WORD_BITS).cast("int").alias("bit"),
        )
    )
    shingle_seen = (
        probes.join(filt, "word", "left")
        .select(
            "doc_id",
            "s",
            F.expr(
                "CAST((shiftright(coalesce(bits, CAST(0 AS BIGINT)), bit)"
                " & 1) = 1 AS INT)"
            ).alias("hit"),
        )
        .groupBy("doc_id", "s")
        .agg((F.min("hit") == 1).alias("seen"))
    )
    agg = shingle_seen.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.when(~F.col("seen"), 1).otherwise(0)).alias("n_novel_est"),
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_novel_est",
        ex.quantize(
            F.col("n_novel_est").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty_est"),
    )


def dedup_novelty_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: Bloom-approximated novelty of the standing
    batch split — fully hash-attested (the shingle-level md5/bit
    arithmetic is mirrored literally in DuckDB, like the doc-level
    filter)."""
    docs = _docs(spark, sf_dir)
    return novelty_scores_bloom(
        docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0),
        docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0),
    )


ORACLE_NOVELTY_BLOOM = f"""
    WITH sh0 AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM sh0 WHERE len(tok) > 0
    ), cshingle AS (
      SELECT DISTINCT unnest(sh) AS s FROM sh
      WHERE doc_id % {INCR_BATCH_MOD} <> 0
    ), ch AS (
      SELECT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(s), 17, 15))::BIGINT AS h2
      FROM cshingle
    ), cpos AS (
      SELECT (h1 + i * h2) % {NOVELTY_BLOOM_BITS} AS pos
      FROM ch CROSS JOIN (SELECT unnest(range({BLOOM_HASHES})) AS i)
    ), bloom AS (
      SELECT pos // {BLOOM_WORD_BITS} AS word,
             bit_or(1::BIGINT << (pos % {BLOOM_WORD_BITS})::INT) AS bits
      FROM cpos GROUP BY 1
    ), bshingle AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
      WHERE doc_id % {INCR_BATCH_MOD} = 0
    ), bprobe AS (
      SELECT doc_id, s,
             (('0x' || substr(md5(s), 1, 15))::BIGINT
              + i * ('0x' || substr(md5(s), 17, 15))::BIGINT)
               % {NOVELTY_BLOOM_BITS} AS pos
      FROM bshingle CROSS JOIN (SELECT unnest(range({BLOOM_HASHES})) AS i)
    ), hits AS (
      SELECT p.doc_id, p.s,
             CASE WHEN b.bits IS NOT NULL
                   AND ((b.bits >> (p.pos % {BLOOM_WORD_BITS})::INT) & 1) = 1
                  THEN 1 ELSE 0 END AS hit
      FROM bprobe p
      LEFT JOIN bloom b ON p.pos // {BLOOM_WORD_BITS} = b.word
    ), sseen AS (
      SELECT doc_id, s, MIN(hit) = 1 AS seen FROM hits GROUP BY doc_id, s
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel_est
      FROM sseen GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_novel_est,
           ROUND((n_novel_est::DOUBLE / n_shingles) * 1000000.0) / 1000000.0
             AS novelty_est
    FROM agg
"""


def dedup_incremental_screened(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCREENED incremental pipeline — the production composition
    of the two pieces registered separately: the Bloom filter screens
    tonight's batch first, and only the ``bloom_seen`` survivors pay
    the exact compound-key membership join (the no-false-negative
    guarantee means every true exact-dup survives the screen; the
    bounded false positives are exactly the rows the verify join then
    clears). The near-dup leg is untouched — Bloom answers exact
    membership only.

    The attestation IS the theorem: this query's output must be
    row-for-row IDENTICAL to the unscreened dedup_incremental, so it
    carries the SAME oracle (ORACLE_DEDUP_INCREMENTAL) — the driver
    hash-compares the screened plan against the unscreened semantics.
    The pruning itself (the point of the screen: novel docs skip the
    join entirely) is pytest-pinned."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    survivors = (
        bloom_screen(batch, bloom_build(corpus))
        .where(F.col("bloom_seen"))
        .select("doc_id")
    )
    return dedup_against_corpus(batch, corpus, exact_candidates=survivors)


def _nightly_bloom_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The Bloom MEMBERSHIP leg of :func:`~mpi_mapreduce_spark.
    operators.nightly.nightly_curation_update` (ledger, batch key and
    crash replay are the composite's): screen each doc of ``batch``
    against the stored corpus filter (OR-merge of every prior batch
    partition — k probe-bit lookups, never a corpus scan) and
    exact-check it against earlier docs in tonight's own batch
    (keep-first on doc_id); append tonight's per-batch filter under
    ``batch=<bkey>``.

    The cheapest append of the family: a batch's filter is ≤ m/32 rows
    regardless of batch size, and because bit_or is
    idempotent/associative the serving merge over any set of batch
    partitions equals the filter built over their docs in one pass
    (pytest-pinned across nights). The serving merge EXCLUDES
    tonight's own partition — without that, every replayed doc would
    probe its own persisted bits and flip bloom_seen to True. A
    valid-but-empty file is consumed with empty decisions and no
    append.

    Returns eager decisions — doc_id, bloom_seen (possibly-seen: route
    to the exact verify), seen_in_batch (exact text already arrived
    tonight under a lower doc_id), novel (neither — skip the exact
    join entirely, the whole point of the screen)."""
    import os

    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    if batch.select("doc_id").first() is None:
        # valid-but-empty file: consume it (ledger), skip the append —
        # same guard as the embedding leg's round-8 review finding
        return (
            batch.select("doc_id")
            .withColumn("bloom_seen", F.lit(False))
            .withColumn("seen_in_batch", F.lit(False))
            .withColumn("novel", F.lit(True))
            .localCheckpoint()
        )

    # intra-batch exact keep-first: the repo's compound-key convention
    # ((xxhash64(text), text) — the 8-byte hash resolves almost every
    # comparison, the text key makes collisions harmless)
    wdup = W.partitionBy(F.xxhash64("text"), F.col("text")).orderBy("doc_id")
    intra = batch.select(
        "doc_id", (F.row_number().over(wdup) > 1).alias("seen_in_batch")
    )

    if has_committed_parquet(spark, index_dir):
        stored = bloom_merge(
            spark.read.parquet(index_dir)
            .where(F.col("batch") != F.lit(bkey))
            .select("word", "bits")
        )
        seen = bloom_screen(batch, stored)
    else:
        seen = batch.select("doc_id").withColumn(
            "bloom_seen", F.lit(False)
        )

    decisions = (
        intra.join(seen, "doc_id")
        .select(
            "doc_id",
            "bloom_seen",
            "seen_in_batch",
            (~F.col("bloom_seen") & ~F.col("seen_in_batch")).alias("novel"),
        )
        .localCheckpoint()
    )
    bloom_build(batch).write.mode("overwrite").parquet(
        os.path.join(index_dir, f"batch={bkey}")
    )
    return decisions


# ---------------------------------------------------------------------------
# MinHash + LSH — the scale path
# ---------------------------------------------------------------------------

def shingle_rows(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, s) word-3-gram shingle ROWS — the codegen'd
    scale path for shingling.

    The array combinator (functions.text.word_shingles) runs in
    Spark's interpreted higher-order-function path, which measured
    ~2 ms/row here — 30x the cost of the actual work. This variant is
    row-shaped: posexplode tokens → lead(1)/lead(2) over a doc window
    → concat. Everything stays in whole-stage codegen and the window
    shuffle partitions by doc_id, which is exactly how shingling
    parallelizes over a 100 TB corpus.

    Semantics parity with word_shingles: docs with 1-2 tokens
    contribute their whole token string (concat_ws skips the null
    leads); token-less docs contribute nothing (nothing to near-dup)."""
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("p", "tok"),
    ).where(F.col("tok") != "")
    # ONE window spec — lag/leads share a single sort+WindowExec; a
    # separate unordered count() window would add a second pass.
    w = W.partitionBy("doc_id").orderBy("p")
    t = tok.select(
        "doc_id",
        "tok",
        F.lag("tok", 1).over(w).alias("prev"),
        F.lead("tok", 1).over(w).alias("t1"),
        F.lead("tok", 2).over(w).alias("t2"),
    )
    tri = t.where(F.col("t2").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("s")
    )
    # first row (prev null) with no 3rd token -> doc has < 3 tokens:
    # whole token string is the single shingle (concat_ws skips nulls)
    short = t.where(F.col("prev").isNull() & F.col("t2").isNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "t1").alias("s")
    )
    return tri.unionByName(short).distinct()


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash.

    signature (32 minhashes) → 16 bands of 2 → explode to (band_id,
    band_hash) keys → groupBy bucket, emit intra-bucket pairs. Bucket
    pair expansion is quadratic *per bucket*, which LSH keeps tiny; a
    production guard caps bucket width (hot buckets = degenerate
    near-identical content; cap + log, don't explode)."""
    return _minhash_candidates(shingle_rows(docs))


def minhash_signature_table(srows: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) — the persistable signature INDEX:
    MINHASH_HASHES longs per doc regardless of document size, mergeable
    nightly like any sketch table.

    Signature via native min-aggregates over shingle rows, NOT
    array_min(transform(...)) passes (interpreted, no codegen). Each
    shingle is string-hashed exactly once; hash family i is
    xxhash64(h, i) over the 8-byte base hash — the family is indexed,
    so a length-16 signature is literally the first 16 rows of the
    length-64 one (that prefix property is what makes recall monotone
    in signature length at fixed rows-per-band, pinned in
    tests/test_dedup.py). The groupBy gets map-side combine — the
    shuffle carries MINHASH_HASHES longs per doc, which is why signature
    length sets the wire cost at 100 TB (SCALING.md's r7 sweep)."""
    shingle_hash = srows.select("doc_id", F.xxhash64("s").alias("h"))
    return shingle_hash.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh{i}")
            for i in range(MINHASH_HASHES)
        ]
    )


def minhash_band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — the LSH join keys derived from a
    signature table: MINHASH_BANDS bands of MINHASH_HASHES/MINHASH_BANDS
    rows, hashed to one long each (16×2). The shape check runs here,
    not at import, because the band-shape sweeps set the two constants
    at run time."""
    n_hashes, n_bands = MINHASH_HASHES, MINHASH_BANDS
    if n_hashes % n_bands:
        raise ValueError(
            f"n_bands {n_bands} must divide n_hashes {n_hashes}"
        )
    rows_per_band = n_hashes // n_bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.xxhash64(
                            *[
                                F.col(f"mh{i * rows_per_band + j}")
                                for j in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.band_hash")


def _minhash_candidates(srows: DataFrame) -> DataFrame:
    bands = minhash_band_keys(minhash_signature_table(srows))
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        # cap pathological buckets (see docstring); 64 wide is already
        # degenerate for 2-row bands
        .where(F.size("ids") <= 64)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                "struct(least(x, y) as a, greatest(x, y) as b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")).distinct()
    return pairs


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact-Jaccard verify ≥ 0.5. Output equals the
    exact blocked op modulo LSH recall (pinned ≈ 1.0 in tests).
    Rows-only with the driver (xxhash64 signatures aren't SQL).

    The verify step (r14) gathers each doc's distinct shingle set
    into one array row and computes |A∩B| as an exact set
    intersection per CANDIDATE pair (array_intersect), |A∪B| =
    |A|+|B|-|A∩B| — the candidate set is tiny relative to the corpus
    at any scale, so the per-pair work is bounded while the old
    row-fanout join grew with Σ_cands |A|.

    srows feeds three consumers (signatures and the gathered verify
    table twice) — persisted (MEMORY_AND_DISK) so the token window
    runs once; the same call a production LSH pipeline makes (Spark
    ML's approxSimilarityJoin persists its transformed inputs too)."""
    return minhash_jaccard_pairs(_docs(spark, sf_dir))


@contextmanager
def shingle_index(docs: DataFrame):
    """Context-managed shingle INDEX — the composition API for
    long-lived sessions (ADVICE/VERDICT r6: the default ``srows=None``
    paths persist an unowned copy per distinct input plan, which a
    session composing many dedup calls accumulates).

    Builds :func:`shingle_rows`, persists it (MEMORY_AND_DISK), yields
    it for any number of ``srows=``-threaded stages (:func:`minhash_jaccard_pairs`,
    :func:`ngram_jaccard_pairs`, :func:`containment_pairs`,
    :func:`_minhash_candidates`), and UNPERSISTS on exit — run the
    actions (or eagerly ``localCheckpoint`` the small stage outputs,
    as :func:`_minhash_validate_frame` does) INSIDE the block; lazy
    frames that escape it recompute shingles uncached.

    tests/test_dedup.py::test_shingle_index_no_cache_growth pins the
    lifecycle: two invocations over two different doc frames leave the
    session's persisted-RDD census exactly where it started."""
    srows = shingle_rows(docs).persist()
    try:
        yield srows
    finally:
        srows.unpersist()


def minhash_jaccard_pairs(
    docs: DataFrame, srows: DataFrame | None = None
) -> DataFrame:
    """Core of :func:`dedup_minhash_lsh` over any (doc_id, text) frame
    — separated so the composed production ordering (exact dedup →
    canonical corpus → minhash on the collapsed corpus) can reuse it;
    the 100× scale rehearsal shows why that ordering is mandatory:
    verbatim replica groups wider than the 64-doc bucket cap would
    otherwise be dropped wholesale (SCALING.md).

    ``srows``: optionally pass precomputed (already-persisted) shingle
    rows for ``docs`` — the same shared-index pattern as
    :func:`ngram_jaccard_pairs` / :func:`containment_pairs`, so a
    caller that feeds several stages from one shingle index (e.g.
    :func:`_minhash_validate_frame`) computes and caches it ONCE
    instead of per-stage. When omitted, this function persists its own
    copy; the entry lives in the session CacheManager until session
    end because the returned frame is lazy — safe for one-invocation
    driver jobs (re-invoking the same registered query re-persists the
    SAME analyzed plan, which the CacheManager dedupes, so repeated
    runs do not grow the cache), and deliberate for bench reps, which
    reuse the warm index. A long-lived session composing over MANY
    DIFFERENT frames should use the context-managed
    :func:`shingle_index` and run its actions inside the block.

    Signature length and band count are MINHASH_HASHES/MINHASH_BANDS
    (SCALING.md's MinHash band-shape table); the exact-Jaccard verify
    step makes every shape PRECISION-exact (band shape moves recall
    only)."""
    if srows is None:
        srows = shingle_rows(docs).persist()
    cands = _minhash_candidates(srows)
    # r14 exact-verify via the cogrouped BLOCK-GATHER shape (VERDICT
    # r13 item 5; the pattern proven on the embedding rescore): each
    # doc's distinct shingle set is gathered into ONE array row —
    # same groupBy(doc_id) shuffle the old sizes aggregate already
    # paid, just with the set riding along — and |A∩B| is an exact
    # set intersection computed per CANDIDATE PAIR (array_intersect
    # over distinct string arrays; srows is distinct by construction).
    # The r13 shape fanned every candidate through its doc_a shingle
    # rows and re-joined on (doc_b, s): a Σ_cands |A| intermediate,
    # two extra shuffles, and a pair-grouped aggregate, all replaced
    # by two joins of the bounded candidate set against the gathered
    # table. A/B at sf0.1, full query, warm shared index, min-of-3:
    # 2.18 s → 1.72 s (/tmp/ab_minhash.py, identical 256 pairs); the
    # interpreted intersect runs once per candidate, and at 100 TB
    # the candidate set is tiny relative to the corpus while the fat
    # fan-out grew with Σ|A|. Zero-intersection candidates still get
    # a jaccard row (inner joins always match: every candidate doc
    # has shingles), preserving the old coalesce(ni, 0) semantics.
    docsets = srows.groupBy("doc_id").agg(
        F.collect_list("s").alias("arr"),
        F.count("*").alias("n"),
    )
    da = docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    db = docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    ni = F.size(F.array_intersect("arr_a", "arr_b")).cast("double")
    return (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ex.quantize(ni / (F.col("na") + F.col("nb") - ni), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_validate_frame(docs: DataFrame) -> DataFrame:
    """Banded attestation of the MinHash+LSH path over any (doc_id,
    text, n_chars) frame (the pattern of
    :func:`dedup_embedding_lsh_validate`): for every EXACT banded
    near-dup pair (word-3-gram Jaccard ≥ 0.5 — the oracle-expressible
    dedup_ngram_jaccard definition), emit the exact jaccard plus
    ``found_iff_candidate`` — TRUE by theorem for a correct
    implementation:

    ⇐ MinHash output pairs are candidates by construction;
    ⇒ a candidate pair (shares an uncapped band bucket) with true
      Jaccard ≥ threshold survives the exact-verify filter, so it must
      be in the MinHash output.

    The candidate condition — "some 2-row minhash band collides in a
    bucket of width ≤ 64" — is recomputed via the same deterministic
    xxhash64 expressions the search uses (_minhash_candidates), so the
    flag exercises signatures, banding, the bucket cap, pair expansion
    and the verify join end-to-end. Probabilistic recall (a true pair
    whose bands never collide) makes both sides of the iff false
    together, keeping the flag TRUE. The oracle recomputes the exact
    side and pins the flag as literal TRUE.

    Shared by :func:`dedup_minhash_lsh_validate` (raw corpus) and
    :func:`pipeline_canonical_minhash_validate` (exact-collapsed
    corpus — the composed production ordering).

    One shingle index feeds all three stages (exact side, search side,
    candidate recompute) via the context-managed :func:`shingle_index`
    (r7, closing VERDICT r6 item 4): the three stage outputs are tiny
    pair tables, so each is EAGERLY ``localCheckpoint``-materialized
    while the index is cached, and the index is unpersisted on block
    exit — this function no longer leaves a CacheManager entry behind,
    however many times a session invokes it. The checkpointed pair
    RDDs live exactly as long as the returned frame references them
    (ContextCleaner-owned), which is the lifecycle the r6 verdict
    asked for."""
    with shingle_index(docs) as srows:
        exact = ngram_jaccard_pairs(docs, srows=srows).localCheckpoint()
        found = minhash_jaccard_pairs(docs, srows=srows).select(
            F.col("doc_a").alias("f_a"),
            F.col("doc_b").alias("f_b"),
            F.lit(1).alias("found_hit"),
        ).localCheckpoint()
        cands = _minhash_candidates(srows).select(
            F.col("doc_a").alias("c_a"),
            F.col("doc_b").alias("c_b"),
            F.lit(1).alias("cand_hit"),
        ).localCheckpoint()
    out = exact.join(
        found,
        (F.col("doc_a") == F.col("f_a")) & (F.col("doc_b") == F.col("f_b")),
        "left",
    ).join(
        cands,
        (F.col("doc_a") == F.col("c_a")) & (F.col("doc_b") == F.col("c_b")),
        "left",
    )
    return out.select(
        "doc_a",
        "doc_b",
        "jaccard",
        (
            F.col("found_hit").isNotNull() == F.col("cand_hit").isNotNull()
        ).alias("found_iff_candidate"),
    )


def dedup_minhash_lsh_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered raw-corpus form of :func:`_minhash_validate_frame`."""
    return _minhash_validate_frame(_docs(spark, sf_dir))


# banded shape: exact side recomputed (the dedup_ngram_jaccard oracle,
# wrapped), invariant flag pinned TRUE (the xxhash64 minhash
# signatures aren't SQL-expressible)
ORACLE_MINHASH_LSH_VALIDATE = f"""
    SELECT doc_a, doc_b, jaccard, TRUE AS found_iff_candidate
    FROM ({ORACLE_NGRAM_JACCARD})
"""


def exact_canonical_docs(docs: DataFrame) -> DataFrame:
    """Keep-first exact collapse: one representative (min doc_id) per
    distinct text — the *input transform* of the composed production
    dedup ordering.

    Implemented as a grouped MIN-STRUCT aggregate, not a row_number
    window: ``min(struct(doc_id, rest...))`` under the compound
    ``(xxhash64(text), text)`` key (8-byte hash leads the comparison;
    the trailing text column is the collision-proof equality
    re-check) is exactly the min-doc_id row, and the aggregate gets
    MAP-SIDE COMBINE — on a replica-saturated corpus (the regime this
    pipeline exists for) each input partition collapses its local
    copies before the shuffle, so the exchange carries ~unique texts
    instead of every replica row. The window form shuffles the entire
    corpus first and sorts replica groups just to discard them —
    strictly worse at every scale."""
    others = ["doc_id"] + [
        c for c in docs.columns if c not in ("doc_id", "text")
    ]
    rep = docs.groupBy(F.xxhash64("text").alias("_h"), "text").agg(
        F.min(F.struct(*others)).alias("_r")
    )
    return rep.select(
        *[F.col(f"_r.{c}").alias(c) for c in docs.columns if c != "text"],
        "text",
    ).select(*docs.columns)


def pipeline_canonical_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production DEDUP ORDERING for signature methods, composed
    end-to-end: exact dedup collapses verbatim replicas FIRST, then
    MinHash+LSH runs on the canonical corpus.

    This ordering is the clearest scale lesson this engine encodes
    (SCALING.md 100×/300× tables, measured as ``minhash_after_exact``):
    on a replica-saturated corpus — exactly what a 100 TB web crawl
    is — uncomposed MinHash saturates its 64-doc LSH bucket cap with
    verbatim copies, and the cap (correctly, it is a skew guard)
    drops those buckets wholesale: 74 s and ZERO recall at 100×
    verbatim replication. Composed, each replica group contributes ONE
    doc, buckets hold genuinely-near texts again, and the same corpus
    takes 4.7 s with full recall (241 true pairs). Exact dedup is one
    cheap hash-shuffle; running it first is strictly better at every
    scale.

    Output: near-dup pairs (doc_a, doc_b, jaccard ≥ 0.5) among the
    canonical representatives. Rows-only with the driver (xxhash64
    signatures aren't SQL); the composed exact side is driver-attested
    via :func:`pipeline_canonical_minhash_validate`, and the planted-
    replica recall pin (composed > 0 where uncomposed = 0) lives in
    tests/test_dedup.py."""
    return minhash_jaccard_pairs(exact_canonical_docs(_docs(spark, sf_dir)))


def pipeline_canonical_minhash_validate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-attested twin of :func:`pipeline_canonical_minhash`:
    the banded found-iff-candidate invariant recomputed on the
    exact-collapsed corpus, so BOTH stages of the composed ordering —
    the keep-first collapse and the signature search it feeds — sit
    under one hash-matched oracle (the oracle rebuilds the canonical
    corpus with a ROW_NUMBER window and runs the exact banded Jaccard
    over it)."""
    return _minhash_validate_frame(exact_canonical_docs(_docs(spark, sf_dir)))


#: the exact-collapsed corpus as a DuckDB CTE body — keep-first on
#: text, matching exact_canonical_docs (hash-leading key changes only
#: the shuffle economics, not the grouping)
_CANON_DOCS_SQL = """
      SELECT doc_id, text, n_chars FROM (
        SELECT doc_id, text, n_chars,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
"""

ORACLE_PIPELINE_CANONICAL_MINHASH_VALIDATE = f"""
    WITH canon AS ({_CANON_DOCS_SQL})
    SELECT doc_a, doc_b, jaccard, TRUE AS found_iff_candidate
    FROM ({_ngram_jaccard_oracle("canon")})
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit TF-weighted SimHash per doc: explode tokens → term
    counts → 64 signed bit-sums in ONE grouped aggregate → assemble.
    Two shuffles total (token counts, doc regroup), both on compact
    keys."""
    tok = docs.select(
        "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("w"))
    tf = tf.withColumn("h", F.xxhash64("tok"))
    bit_sums = tf.groupBy("doc_id").agg(
        *TXT.simhash64(F.col("h"), F.col("w"))
    )
    return bit_sums.select("doc_id", TXT.assemble_simhash().alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ 3. Banding into
    4 x 16-bit chunks is pigeonhole-complete for ≤3 bit flips: at
    least one chunk is identical, so candidates come from equi-joins
    on (chunk_id, chunk_value) — never a cross join. Rows-only."""
    docs = _docs(spark, sf_dir)
    sig = simhash_signatures(docs)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            TXT.hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


def dedup_simhash_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded attestation of the SimHash path (the pattern of
    :func:`dedup_minhash_lsh_validate`): for every EXACT banded
    near-dup pair (word-3-gram Jaccard ≥ 0.5 — the oracle-expressible
    dedup_ngram_jaccard definition), emit the exact jaccard plus
    ``found_iff_close`` — "the pair is in dedup_simhash's output iff
    its signatures' Hamming distance is ≤ 3" — TRUE by theorem for a
    correct implementation:

    ⇐ output pairs pass the hamming ≤ 3 filter by construction;
    ⇒ hamming ≤ 3 over 64 bits split into 4 16-bit chunks forces at
      least one identical chunk (pigeonhole), so the pair IS a
      chunk-equi-join candidate and survives the filter into the
      output.

    The hamming side of the iff is recomputed directly from the
    signature table — NOT via the chunk join — so the flag exercises
    the chunk explode, the equi-join's pigeonhole completeness, and
    the hamming verify end-to-end: a banding bug that drops a
    hamming-≤3 pair flips the flag FALSE. SimHash's own relationship
    to Jaccard stays heuristic (pinned separately in tests); the
    oracle recomputes the exact side and pins the flag literal TRUE."""
    exact = dedup_ngram_jaccard(spark, sf_dir)
    sig = simhash_signatures(_docs(spark, sf_dir))
    found = dedup_simhash(spark, sf_dir).select(
        F.col("doc_a").alias("f_a"),
        F.col("doc_b").alias("f_b"),
        F.lit(1).alias("found_hit"),
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    out = (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(
            found,
            (F.col("doc_a") == F.col("f_a")) & (F.col("doc_b") == F.col("f_b")),
            "left",
        )
    )
    close = TXT.hamming64(F.col("sig_a"), F.col("sig_b")) <= SIMHASH_MAX_HAMMING
    return out.select(
        "doc_a",
        "doc_b",
        "jaccard",
        (F.col("found_hit").isNotNull() == close).alias("found_iff_close"),
    )


# banded shape: exact side recomputed (the dedup_ngram_jaccard oracle,
# wrapped), invariant flag pinned TRUE (the xxhash64 simhash
# signatures aren't SQL-expressible)
ORACLE_SIMHASH_VALIDATE = f"""
    SELECT doc_a, doc_b, jaccard, TRUE AS found_iff_close
    FROM ({ORACLE_NGRAM_JACCARD})
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

EMBED_DUP_THRESHOLD = 0.4  # synthetic embeddings are near-orthogonal;
# real text embeddings would use ~0.95

#: block count for the distributed exact all-pairs pass. Each unordered
#: block pair (bi ≤ bj) is one scoring task → B(B+1)/2 tasks over
#: blocks of ~n/B rows. Per-task memory is O((n/B)·dim) for the two
#: block matrices plus O(chunk·dim) for the lazily-generated pair
#: slices (never the |A|×|B| index matrix); at cluster scale set
#: B ≈ n / 10k so block size (and task memory) stays constant as n
#: grows.
EMBED_BLOCKS = 8


def _block_cells(emb: DataFrame) -> DataFrame:
    """Fan each ``(vec_id, v, blk)`` row out to every unordered
    block-pair cell (bi ≤ bj) whose pair contains its block.

    Cell membership: block k belongs to every cell (i, j), i ≤ j,
    with k ∈ {i, j} → B rows per block, O(B²) total. Broadcast, so
    the fan-out is a map-side join (no extra shuffle beyond the
    groupBy on cell id); total shuffle volume O(n·B) rows."""
    members = [
        (k, i, j)
        for i in range(EMBED_BLOCKS)
        for j in range(i, EMBED_BLOCKS)
        for k in sorted({i, j})
    ]
    mdf = emb.sparkSession.createDataFrame(members, "blk int, bi int, bj int")
    return emb.join(F.broadcast(mdf), "blk")


def embedding_neardup_exact(emb: DataFrame) -> DataFrame:
    """Vector near-dup pairs: cosine ≥ EMBED_DUP_THRESHOLD over a
    pre-normalized ``(vec_id, v)`` frame, so the pair test is a plain
    dot product.

    EXACT all-pairs — by contract the exactness baseline (the pair
    threshold 0.4 sits inside a continuous cosine distribution, so no
    LSH scheme has recall 1.0 here; the approximate scale path is
    :func:`dedup_embedding_lsh`). Distributed block-partitioned
    execution, NOT a driver collect: rows hash into ``EMBED_BLOCKS``
    blocks, a tiny broadcast membership map fans each row out to the
    B cells containing its block (shuffle volume O(n·B) rows — never
    O(n²)), and each unordered block pair scores its cross product
    with chunked numpy inside one ``applyInPandas`` task. The driver
    never materializes the corpus; pair expansion is capped per chunk.

    Dots fold left-to-right via cumsum, bit-identical to the
    HOF/DuckDB-oracle path; a conservative raw prefilter inside the
    task (threshold − quantization half-step) keeps the Arrow output
    at O(matches) while the final exact quantize+filter runs in the
    DataFrame plan.
    """
    emb = emb.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(EMBED_BLOCKS)).cast("int")
    )
    cells = _block_cells(emb)

    threshold = EMBED_DUP_THRESHOLD
    raw_cut = threshold - 5e-7  # quantize(6) half-step guard

    def _score(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        bi, bj = int(key[0]), int(key[1])
        A = pdf[pdf["blk"] == bi]
        Bs = A if bj == bi else pdf[pdf["blk"] == bj]
        if len(A) == 0 or len(Bs) == 0:
            return empty
        ida = A["vec_id"].to_numpy()
        idb = Bs["vec_id"].to_numpy()
        va = np.vstack(A["v"].to_numpy())
        vb = va if bj == bi else np.vstack(Bs["v"].to_numpy())
        # Pair indices are generated LAZILY per chunk (a slice of A
        # rows against all of B via repeat/tile) — never the full
        # |A|×|B| index matrix, so per-task peak memory is O(chunk·dim)
        # regardless of block size. Within one block (bi == bj) each
        # unordered pair is kept once via the id< mask; cross-block,
        # every A×B combo is a distinct unordered pair (ids live in
        # different residue classes, never equal) — normalized to
        # (min, max) below so orientation doesn't depend on which
        # block sorted lower.
        out = []
        chunk = 1 << 16  # caps pair-expansion memory per task
        nb = len(idb)
        rows_per = max(1, chunk // nb)
        b_idx = np.arange(nb)
        for s in range(0, len(ida), rows_per):
            a_idx = np.arange(s, min(s + rows_per, len(ida)))
            sa = np.repeat(a_idx, nb)
            sb = np.tile(b_idx, len(a_idx))
            if bj == bi:
                m = ida[sa] < idb[sb]
                sa, sb = sa[m], sb[m]
                if len(sa) == 0:
                    continue
            dots = np.cumsum(va[sa] * vb[sb], axis=1)[:, -1]
            keep = dots >= raw_cut
            pa, pb = ida[sa][keep], idb[sb][keep]
            out.append((np.minimum(pa, pb), np.maximum(pa, pb), dots[keep]))
        if not out:
            return empty
        return pd.DataFrame(
            {
                "vec_a": np.concatenate([o[0] for o in out]),
                "vec_b": np.concatenate([o[1] for o in out]),
                "cosine": np.concatenate([o[2] for o in out]),
            }
        )

    pairs = cells.groupBy("bi", "bj").applyInPandas(
        _score, "vec_a long, vec_b long, cosine double"
    )
    return pairs.select(
        "vec_a", "vec_b", ex.quantize(F.col("cosine"), 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def _normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        VEC.normalize_arrow(VEC.as_double(F.col("embedding"))).alias("v"),
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered exact embedding near-dup — see
    :func:`embedding_neardup_exact`."""
    return embedding_neardup_exact(_normalized_embeddings(spark, sf_dir))


#: banded hyperplane LSH for the scale path: candidate iff ALL b sign
#: bits agree in ANY of L bands (MinHash-style OR-of-ANDs). Band shape
#: is threshold-tuned: per-bit agreement p = 1 − θ/π, band hit = p^b,
#: recall = 1 − (1 − p^b)^L. The registered query's loose 0.4
#: threshold (θ ≈ 66°, p ≈ 0.64) needs shallow-wide banding
#: (b=2, L=12 → recall ≈ 0.999) at the cost of weak pruning — the
#: threshold sits mid-distribution, so that cost is information-
#: theoretic, not an implementation artifact. Real text-embedding
#: dedup at ≥ 0.9 runs deep-narrow banding; the round-6 b/L sweep on
#: the 100k separated corpus (SCALING.md) measured b=10, L=12 as the
#: dominant shape — FULL planted recall (1000/1000, on the
#: 1−(1−p^b)^L curve) at 2.6× less wall than b=8/L=8, because two
#: extra bits per band cut random-pair candidate mass ~4× while the
#: extra bands buy the recall back.
EMBED_LSH_BAND_BITS = 2
EMBED_LSH_BANDS = 12
EMBED_LSH_SEED = 0x5EED


def _band_hyperplanes(dim: int, bits: int, bands: int) -> "list":
    import numpy as np

    rng = np.random.RandomState(EMBED_LSH_SEED)
    return rng.randn(bands * bits, dim)


def embedding_band_rows(emb: DataFrame, dim: int) -> DataFrame:
    """Hyperplane sign-bucket rows ``(vec_id, band, bucket)`` over a
    normalized ``(vec_id, v)`` frame — the shared banding stage of the
    LSH candidate join AND the cheap collision-density probe
    :func:`embedding_neardup_auto` runs (which needs the per-bucket
    counts WITHOUT the pair expansion)."""
    from pyspark.sql.functions import pandas_udf

    band_bits, n_bands = EMBED_LSH_BAND_BITS, EMBED_LSH_BANDS
    hps = _band_hyperplanes(dim, band_bits, n_bands)

    @pandas_udf("array<int>")
    def _band_buckets(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.Series([], dtype="object")
        m = np.vstack(xs.to_numpy())
        # sign bits against all bands' hyperplanes at once; cumsum
        # keeps the left-fold dot order (stable across rewrites)
        bits = np.stack(
            [
                (np.cumsum(m * h, axis=1)[:, -1] > 0).astype(np.int32)
                for h in hps
            ],
            axis=1,
        )  # (n, bands*bits)
        out = np.zeros((len(m), n_bands), dtype=np.int32)
        for band in range(n_bands):
            for j in range(band_bits):
                out[:, band] |= bits[:, band * band_bits + j] << j
        return pd.Series(list(out))

    # The embeddings scan is a handful of parquet files — without an
    # explicit repartition the bucket join and its partial distinct
    # run on those few input partitions (ONE at the 10x rehearsal
    # scale). Repartition by vec_id: the probe side parallelizes
    # across the cluster AND a pair's multi-band duplicates stay in
    # one partition (all of vec_a's band rows together), so the
    # partial aggregate dedupes before the exchange. Measured at the
    # 10x rehearsal (48M candidate pairs): 104 s vs 133 s
    # single-partition vs 128 s hashed on (band, bucket) — the
    # remaining cost is the candidate volume itself, which at this
    # fixture's threshold-hugging cosine distribution is ~all pairs
    # (see the banding-math comment above: that part is
    # information-theoretic, not a plan artifact).
    #
    # The count is EXPLICIT (r14, guide §2.1/§2.5): a column-only
    # repartition is an AQE-optimizable hint, and because the banded
    # rows are tiny (n·bands skinny rows) AQE coalesced the exchange
    # to ONE partition — which then serialized the 6M-row bucket
    # join + partial distinct DOWNSTREAM of it onto one core (the
    # partition count of a stage is fixed by its input exchange, and
    # AQE only sees the small input bytes, not the quadratic explode
    # it feeds). Pinning to defaultParallelism (cluster core count;
    # scale-adaptive, not a local constant) keeps the explode
    # parallel: full dedup_embedding_lsh at sf0.1 4.16 s → 2.84 s
    # min-of-3, candidate-distinct stage 3.18 s → 1.15 s.
    return emb.select(
        "vec_id",
        F.posexplode(_band_buckets(F.col("v"))).alias("band", "bucket"),
    ).repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )


def embedding_lsh_candidates(emb: DataFrame, dim: int) -> DataFrame:
    """Co-bucketed candidate ID pairs ``(vec_a < vec_b)`` — a pair
    appears iff ALL sign bits agree in at least one band. Shared by
    the rescoring search and the banded validation query (which must
    recompute exactly this set to check found-iff-cobucketed)."""
    banded = embedding_band_rows(emb, dim)
    left = banded.select(
        F.col("vec_id").alias("vec_a"), "band", "bucket"
    )
    right = banded.select(
        F.col("vec_id").alias("vec_b"), "band", "bucket"
    )
    # Candidates as ID PAIRS only — a pair colliding in k bands would
    # otherwise ship k copies of both vectors through the dedup
    # shuffle (measured 90 s vs 3 s at sf0.1 for dim-64 doubles);
    # vectors rejoin per-id after the distinct, so the wide rows never
    # hit a shuffle more than once.
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def embedding_neardup_lsh(
    emb: DataFrame, dim: int, cands: DataFrame | None = None
) -> DataFrame:
    """Banded-LSH candidate generation + exact cosine rescore over a
    normalized ``(vec_id, v)`` frame. Every stage is a shuffle
    equi-join on a small key — no cross product, no driver
    materialization; candidate volume is Σ_bucket |bucket|² summed
    over bands, and the distinct collapses multi-band hits before the
    (exact) rescore so each surviving pair is scored once.

    The rescore is a COGROUPED BLOCK GATHER, not a per-pair vector
    join: candidate pairs stay skinny (two int64s) keyed by their
    unordered block-pair cell, vectors fan out O(n·B) via the same
    broadcast membership map as dedup_embedding, and one
    applyInPandas task per cell gathers both sides by searchsorted
    and dots them with the usual chunked left-fold cumsum. Joining
    the wide vectors onto every candidate row instead shuffled
    |cands|·dim doubles — measured 4.9 s vs 2.4 s at sf0.1, where the
    loose 0.4 threshold makes |cands| ≈ all pairs; at a real ≥0.9
    threshold the candidate set is small either way, but the gather
    plan's shuffle stays O(n·B + |cands|) rows in every regime.

    ``cands`` lets a caller that already computed the candidate pairs
    (the validate query, which also needs them for its iff flag) skip
    a second banding pass."""
    if cands is None:
        # JVM-side distinct: measured faster than shipping multi-band
        # multiplicity rows through Arrow for an in-task np.unique
        # (5.2-6.1 s vs 4.0-4.1 s at sf0.1 — the partial hash
        # aggregate prunes map-side before anything crosses to Python)
        cands = embedding_lsh_candidates(emb, dim)
    blk_a = F.pmod(F.col("vec_a"), F.lit(EMBED_BLOCKS)).cast("int")
    blk_b = F.pmod(F.col("vec_b"), F.lit(EMBED_BLOCKS)).cast("int")
    keyed = cands.select(
        "vec_a",
        "vec_b",
        F.least(blk_a, blk_b).alias("bi"),
        F.greatest(blk_a, blk_b).alias("bj"),
    )
    cells = _block_cells(
        emb.withColumn(
            "blk", F.pmod(F.col("vec_id"), F.lit(EMBED_BLOCKS)).cast("int")
        )
    )
    threshold = EMBED_DUP_THRESHOLD
    raw_cut = threshold - 5e-7  # quantize(6) half-step guard

    def _rescore(pairs_pdf, cells_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pairs_pdf) == 0 or len(cells_pdf) == 0:
            return empty
        ids = cells_pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids_s = ids[order]
        vmat = np.vstack(cells_pdf["v"].to_numpy())[order]
        pa = pairs_pdf["vec_a"].to_numpy()
        pb = pairs_pdf["vec_b"].to_numpy()
        # defensive: score each pair exactly once even if a caller
        # hands non-deduped candidate rows (packed-key unique when ids
        # fit 31 bits, else the generic axis-0 path)
        if pa.size and max(pa.max(), pb.max()) < (1 << 31):
            packed = (pa.astype(np.int64) << 32) | pb.astype(np.int64)
            _, idx = np.unique(packed, return_index=True)
        else:
            _, idx = np.unique(
                np.stack([pa, pb], axis=1), axis=0, return_index=True
            )
        pa, pb = pa[idx], pb[idx]
        ia = np.searchsorted(ids_s, pa)
        ib = np.searchsorted(ids_s, pb)
        out = []
        chunk = 1 << 16  # caps gather memory per task
        for s in range(0, len(pa), chunk):
            sa, sb = ia[s : s + chunk], ib[s : s + chunk]
            # left-fold cumsum dot — bit-identical to the HOF/oracle
            dots = np.cumsum(vmat[sa] * vmat[sb], axis=1)[:, -1]
            keep = dots >= raw_cut
            out.append(
                (pa[s : s + chunk][keep], pb[s : s + chunk][keep], dots[keep])
            )
        return pd.DataFrame(
            {
                "vec_a": np.concatenate([o[0] for o in out]),
                "vec_b": np.concatenate([o[1] for o in out]),
                "cosine": np.concatenate([o[2] for o in out]),
            }
        )

    pairs = (
        keyed.groupBy("bi", "bj")
        .cogroup(cells.groupBy("bi", "bj"))
        .applyInPandas(_rescore, "vec_a long, vec_b long, cosine double")
    )
    return pairs.select(
        "vec_a", "vec_b", ex.quantize(F.col("cosine"), 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup (see embedding_neardup_lsh).
    Approximate by contract: recall < 1 for pairs at the decision
    boundary, so it registers rows-only while :func:`dedup_embedding`
    keeps the exact oracle; precision is 1.0 by construction (exact
    rescore) and recall vs the exact op is pinned in
    tests/test_dedup.py."""
    return embedding_neardup_lsh(_normalized_embeddings(spark, sf_dir), dim=64)


def dedup_embedding_lsh_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded attestation of the LSH scale path, registered SEPARATELY
    so :func:`dedup_embedding_lsh` keeps its pure linear plan: for
    every EXACT near-dup pair (oracle-expressible — same definition as
    dedup_embedding), emit the exact cosine plus ``found_iff_cobucketed``
    — TRUE by theorem for a correct implementation:

    ⇐ LSH output pairs come only from co-bucketed candidates;
    ⇒ a co-bucketed pair whose exact cosine clears the threshold
      survives the exact rescore filter (this pipeline has no bucket
      cap), so it must be in the LSH output.

    The flag exercises banding, bucket joins, the id-pair dedup and
    the rescore end-to-end; the residual approximation (boundary pairs
    whose buckets never collide) is exactly what the flag's two sides
    agree to exclude, and recall stays pytest-pinned. The oracle
    recomputes the exact side and pins the flag TRUE.

    Cache lifecycle (r7, same contract as the minhash twins): the
    candidate frame feeds two stages, so it is persisted ONLY while
    the two tiny pair-table outputs are eagerly localCheckpoint-
    materialized, then unpersisted — repeated invocations in one
    session leave no CacheManager entry behind
    (tests/test_dedup.py::test_shingle_index_no_cache_growth)."""
    emb = _normalized_embeddings(spark, sf_dir)
    exact = dedup_embedding(spark, sf_dir)
    cands = embedding_lsh_candidates(emb, dim=64).persist()
    try:
        found = embedding_neardup_lsh(emb, dim=64, cands=cands).select(
            F.col("vec_a").alias("f_a"),
            F.col("vec_b").alias("f_b"),
            F.lit(1).alias("found_hit"),
        ).localCheckpoint()
        cobucketed = cands.select(
            F.col("vec_a").alias("c_a"),
            F.col("vec_b").alias("c_b"),
            F.lit(1).alias("cobucket_hit"),
        ).localCheckpoint()
    finally:
        cands.unpersist()
    out = exact.join(
        found,
        (F.col("vec_a") == F.col("f_a")) & (F.col("vec_b") == F.col("f_b")),
        "left",
    ).join(
        cobucketed,
        (F.col("vec_a") == F.col("c_a")) & (F.col("vec_b") == F.col("c_b")),
        "left",
    )
    return out.select(
        "vec_a",
        "vec_b",
        "cosine",
        (
            F.col("found_hit").isNotNull() == F.col("cobucket_hit").isNotNull()
        ).alias("found_iff_cobucketed"),
    )


def embedding_incremental_candidates(
    batch: DataFrame,
    corpus: DataFrame,
    dim: int,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Batch-against-index candidate pairs ``(vec_a = batch id,
    vec_b = corpus id)``: tonight's batch band rows equi-joined
    against the corpus BUCKET INDEX on (band, bucket) — the embedding
    analog of dedup_incremental_minhash's band-key join (the corpus
    side is ``(vec_id, band, bucket)``, a table-shaped artifact read
    from storage in production and rebuilt from the fixture here).
    The corpus is never re-paired with itself — that work happened
    when each nightly batch was ingested — so candidate volume is
    Σ_bucket |batch share|·|corpus share|: linear in the BATCH for a
    stable corpus.

    ``corpus_bands`` is the STORED index path: a caller holding the
    persisted ``(vec_id, band, bucket)`` table (the
    embedding_bucket_index artifact, maintained by the nightly
    composite's embedding leg) passes it here and the corpus
    vectors are never re-banded — the only corpus-sized work left is
    the parquet scan of three skinny columns. Equality of the stored
    and rebuilt paths is pinned in
    tests/test_dedup.py::test_bucket_index_feeds_incremental."""
    bb = embedding_band_rows(batch, dim).select(
        F.col("vec_id").alias("vec_a"), "band", "bucket"
    )
    if corpus_bands is None:
        corpus_bands = embedding_band_rows(corpus, dim)
    bc = corpus_bands.select(
        F.col("vec_id").alias("vec_b"), "band", "bucket"
    )
    return (
        bb.join(bc, ["band", "bucket"]).select("vec_a", "vec_b").distinct()
    )


def embedding_incremental_hits(
    batch: DataFrame,
    corpus: DataFrame,
    dim: int,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """The incremental pipeline's scored batch×corpus hit pairs
    ``(vec_a = batch id, vec_b = corpus id, cosine ≥ EMBED_DUP_THRESHOLD)`` —
    the heavy stage, exposed for the validate twin and the scale
    rehearsal (the decision wrapper's per-batch-vector left join is
    eliminable under a count, so measuring THIS frame is what times
    the real work). Candidates from the corpus bucket index, exact
    rescore fed only the vectors candidates reference (one left-semi
    join) so the O(n·B) cell fan-out is O(|touched|·B), not
    corpus-sized."""
    cands = embedding_incremental_candidates(batch, corpus, dim, corpus_bands)
    touched_ids = (
        cands.select(F.col("vec_a").alias("vec_id"))
        .unionByName(cands.select(F.col("vec_b").alias("vec_id")))
        .distinct()
    )
    emb = batch.unionByName(corpus)
    touched = emb.join(touched_ids, "vec_id", "left_semi")
    return embedding_neardup_lsh(touched, dim, cands=cands)


def embedding_dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    dim: int,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Per-batch-vector keep/drop against an EXISTING embedding corpus
    — completing the incremental family (text already has exact
    [:func:`dedup_against_corpus`] and MinHash-index
    [:func:`dedup_incremental_minhash` — see that docstring for the
    production framing] forms; this is the vector form a 100 TB
    embedding store runs nightly). Reference scope note: incremental
    ingest generalizes the reference's batch job model (main.cpp:28-34
    reads a static corpus); the operator family is [NS] LLM-pipeline
    surface.

    Stages, every one batch-proportional for a stable corpus:

    1. candidates from the corpus bucket index
       (:func:`embedding_incremental_candidates`) — batch×corpus only;
    2. the exact cogrouped block-gather rescore of
       :func:`embedding_neardup_lsh`, fed ONLY the vectors candidates
       reference (one left-semi join) so the O(n·B) cell fan-out is
       O(|touched|·B), not corpus-sized;
    3. per-batch-vector flags: ``is_near_dup`` iff some corpus
       candidate rescored ≥ EMBED_DUP_THRESHOLD, ``keep`` its negation —
       same decision shape as :func:`dedup_incremental`.

    Approximate exactly like :func:`dedup_embedding_lsh` (recall < 1
    for true pairs whose buckets never collide, precision 1.0 via the
    exact rescore, banding-theorem recall at the registered b=2/L=12
    shape); rows-only with the driver, invariant driver-attested via
    :func:`dedup_incremental_embedding_validate`."""
    scored = embedding_incremental_hits(batch, corpus, dim, corpus_bands)
    near = (
        scored.select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        batch.select("vec_id")
        .join(near, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
        .withColumn("keep", ~F.col("is_near_dup"))
    )


def dedup_incremental_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registered incremental embedding dedup: every 10th vector is
    tonight's batch (same ``vec_id % INCR_BATCH_MOD`` split convention
    as dedup_incremental), the rest the already-ingested corpus — see
    :func:`embedding_dedup_against_corpus`. Rows-only (the
    sign-hyperplane buckets aren't SQL); recall/precision pinned vs
    the exact batch×corpus pairs in tests/test_dedup.py, invariant
    driver-attested via the banded validate twin."""
    emb = _normalized_embeddings(spark, sf_dir)
    batch = emb.where(F.col("vec_id") % INCR_BATCH_MOD == 0)
    corpus = emb.where(F.col("vec_id") % INCR_BATCH_MOD != 0)
    return embedding_dedup_against_corpus(batch, corpus, dim=64)


def dedup_incremental_embedding_validate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded attestation of the incremental embedding path, same
    shape as :func:`dedup_embedding_lsh_validate`: for every EXACT
    batch×corpus near-dup pair (oracle-expressible — the
    dedup_embedding cosine with the batch-split predicate), emit the
    exact cosine plus ``found_iff_cobucketed`` — TRUE by theorem:

    ⇐ the incremental pipeline's hits come only from co-bucketed
      index candidates;
    ⇒ a co-bucketed batch×corpus pair whose exact cosine clears the
      threshold survives the exact uncapped rescore, so it must be a
      hit.

    Both sides are normalized to the exact op's (vec_a < vec_b)
    orientation before the iff-join (the incremental pipeline orients
    pairs batch-first). Cache lifecycle as in the sibling twins: the
    candidate frame is persisted only while the two pair tables
    eagerly materialize, then unpersisted."""
    emb = _normalized_embeddings(spark, sf_dir)
    batch = emb.where(F.col("vec_id") % INCR_BATCH_MOD == 0)
    corpus = emb.where(F.col("vec_id") % INCR_BATCH_MOD != 0)
    is_batch_a = F.col("vec_a") % INCR_BATCH_MOD == 0
    is_batch_b = F.col("vec_b") % INCR_BATCH_MOD == 0
    exact = dedup_embedding(spark, sf_dir).where(is_batch_a != is_batch_b)
    cands = embedding_incremental_candidates(batch, corpus, dim=64).persist()
    try:
        touched_ids = (
            cands.select(F.col("vec_a").alias("vec_id"))
            .unionByName(cands.select(F.col("vec_b").alias("vec_id")))
            .distinct()
        )
        touched = emb.join(touched_ids, "vec_id", "left_semi")
        found = embedding_neardup_lsh(
            touched, dim=64, cands=cands
        ).select(
            F.least("vec_a", "vec_b").alias("f_a"),
            F.greatest("vec_a", "vec_b").alias("f_b"),
            F.lit(1).alias("found_hit"),
        ).localCheckpoint()
        cobucketed = cands.select(
            F.least("vec_a", "vec_b").alias("c_a"),
            F.greatest("vec_a", "vec_b").alias("c_b"),
            F.lit(1).alias("cobucket_hit"),
        ).distinct().localCheckpoint()
    finally:
        cands.unpersist()
    out = exact.join(
        found,
        (F.col("vec_a") == F.col("f_a")) & (F.col("vec_b") == F.col("f_b")),
        "left",
    ).join(
        cobucketed,
        (F.col("vec_a") == F.col("c_a")) & (F.col("vec_b") == F.col("c_b")),
        "left",
    )
    return out.select(
        "vec_a",
        "vec_b",
        "cosine",
        (
            F.col("found_hit").isNotNull() == F.col("cobucket_hit").isNotNull()
        ).alias("found_iff_cobucketed"),
    )


def embedding_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding LSH index ARTIFACT itself: ``(vec_id, band,
    bucket)`` over the whole vector store — the table a write-side job
    persists nightly (the nightly composite's embedding leg appends
    tonight's batch partition) and the incremental dedup path joins against
    (embedding_incremental_candidates ``corpus_bands``). Registered
    separately, same rationale as embedding_pq_codes: the STORED
    representation, not just the search results derived from it, is
    hash-attested.

    Fully oracle-checked: the sign-hyperplane arithmetic is
    deterministic (fixed-seed hyperplanes, inlined as SQL literals),
    so DuckDB recomputes every bit. Cross-engine safety: DuckDB's
    list_dot_product is a pairwise/SIMD sum while the engine's dot is
    a sequential left fold — they can differ in the last ~ulp — but a
    sign bit only flips when a projection sits within that ulp of
    zero, and the measured margin on the fixture corpora is ≥ 6.5e-6
    at every SF (nine orders of magnitude of slack; checked for all
    three SFs in tests/test_dedup.py::test_bucket_index_margin).

    Generalizes the reference's static-corpus job model (main.cpp:
    28-34) to the [NS] vector-store surface; hyperplane LSH per
    Charikar (STOC 2002)."""
    return embedding_band_rows(_normalized_embeddings(spark, sf_dir), dim=64)


def _embedding_bucket_index_oracle() -> str:
    """Full DuckDB mirror of embedding_bucket_index: normalize (the
    _sql_norm recipe every embedding oracle uses), dot each vector
    against the EMBED_LSH_BANDS x EMBED_LSH_BAND_BITS fixed-seed
    hyperplanes (inlined as exact string-cast literals — bare SQL
    decimal literals parse as DECIMAL and drop bits), sign-bit →
    little-endian bucket per band."""
    hps = _band_hyperplanes(64, EMBED_LSH_BAND_BITS, EMBED_LSH_BANDS)
    rows = []
    for band in range(EMBED_LSH_BANDS):
        for j in range(EMBED_LSH_BAND_BITS):
            h = hps[band * EMBED_LSH_BAND_BITS + j]
            lit = "[" + ", ".join(f"'{float(x)!r}'" for x in h) + "]::DOUBLE[]"
            rows.append(f"({band}, {j}, {lit})")
    values = ",\n        ".join(rows)
    return f"""
    WITH raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id,
             CASE WHEN list_dot_product(e, e) > 0
                  THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                  ELSE e END AS v
      FROM raw
    ), hp(band, j, h) AS (VALUES
        {values}
    ), bits AS (
      SELECT vec_id, band, j,
             CASE WHEN list_dot_product(v, h) > 0 THEN 1 ELSE 0 END AS bit
      FROM n CROSS JOIN hp
    )
    SELECT vec_id, CAST(band AS INT) AS band,
           CAST(SUM(bit * (1 << j)) AS INT) AS bucket
    FROM bits GROUP BY vec_id, band
    """


ORACLE_EMBEDDING_BUCKET_INDEX = _embedding_bucket_index_oracle()


def _nightly_embedding_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The EMBEDDING dedup leg of :func:`~mpi_mapreduce_spark.
    operators.nightly.nightly_curation_update` (ledger, batch key and
    crash replay are the composite's): flag each vector of ``batch``
    against the stored BUCKET INDEX (band-key candidates against the
    stored (vec_id, band, bucket) table — the embedding_bucket_index
    artifact — then the exact cogrouped cosine rescore over only the
    touched stored vectors) AND against the rest of tonight's batch (a
    band self-join, keep-first: the lower vec_id of an intra-batch
    near-dup pair keeps, the higher drops).

    The index has TWO legs, appended per batch under
    ``{index}/bands/batch=<bkey>`` and ``{index}/vectors/batch=<bkey>``:
    the bands leg is the three-skinny-column table the candidate join
    scans (corpus vectors are never re-banded), the vectors leg is
    read only to rescore touched candidates. Both reads EXCLUDE
    tonight's own partition (else every replayed vector self-matches
    at cosine 1 and flips keep→drop), and a torn first-night write
    leaves bands without vectors — treated as no-index, which the
    replay's overwrite then completes. A valid-but-empty file is
    consumed with empty decisions and no append.

    Returns eager decisions — vec_id, is_near_dup, keep."""
    import os

    first_row = batch.select("embedding").first()
    if first_row is None:
        # a valid-but-empty file (quiet upstream night): nothing to
        # band or flag — consume it (ledger commit stays the caller's
        # job), skip the index appends entirely (round-8 review
        # finding)
        return (
            batch.select("vec_id")
            .withColumn("is_near_dup", F.lit(False))
            .withColumn("keep", F.lit(True))
            .localCheckpoint()
        )
    dim = len(first_row[0])
    # one batch-sized materialization each: the normalized vectors feed
    # the rescores and the vectors-leg write; the band rows feed the
    # intra-batch join, the index join and the bands-leg write
    vnew = batch.select(
        "vec_id",
        VEC.normalize_arrow(VEC.as_double(F.col("embedding"))).alias("v"),
    ).localCheckpoint()
    bands_new = embedding_band_rows(vnew, dim).localCheckpoint()

    intra_cands = (
        bands_new.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
        .join(
            bands_new.select(
                F.col("vec_id").alias("vec_b"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    intra_hits = embedding_neardup_lsh(vnew, dim, cands=intra_cands)
    # keep-first: the higher id of an intra-batch near-dup pair drops
    near = intra_hits.select(F.col("vec_b").alias("vec_id"))

    bands_dir = os.path.join(index_dir, "bands")
    vecs_dir = os.path.join(index_dir, "vectors")

    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    # candidate probe against the stored bucket index: two-tier
    # through the weekly fold ledger when a valid compaction exists,
    # flat otherwise (VERDICT r10 item 1); the vectors leg gate keeps
    # the torn-first-night semantics (bands without vectors = no
    # index — the replay's overwrite completes it)
    cross_cands = (
        _embedding_cross_candidates(
            spark,
            bands_new.select(
                F.col("vec_id").alias("vec_a"), "band", "bucket"
            ),
            bands_dir,
            exclude=bkey,
        )
        if has_committed_parquet(spark, vecs_dir)
        else None
    )
    if cross_cands is not None:
        stored_vecs = (
            spark.read.parquet(vecs_dir)
            .where(F.col("batch") != F.lit(bkey))
            .select("vec_id", "v")
        )
        # the exact rescore touches only the vectors candidates
        # reference (embedding_incremental_hits's tail, fed the
        # tier-aware candidate set)
        touched_ids = (
            cross_cands.select(F.col("vec_a").alias("vec_id"))
            .unionByName(cross_cands.select(F.col("vec_b").alias("vec_id")))
            .distinct()
        )
        touched = vnew.unionByName(stored_vecs).join(
            touched_ids, "vec_id", "left_semi"
        )
        cross_hits = embedding_neardup_lsh(touched, dim, cands=cross_cands)
        near = near.unionByName(
            cross_hits.select(F.col("vec_a").alias("vec_id"))
        )

    near = near.distinct().withColumn("is_near_dup", F.lit(True))
    decisions = (
        vnew.select("vec_id")
        .join(near, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
        .withColumn("keep", ~F.col("is_near_dup"))
        .localCheckpoint()
    )
    bands_new.write.mode("overwrite").parquet(
        os.path.join(bands_dir, f"batch={bkey}")
    )
    vnew.write.mode("overwrite").parquet(
        os.path.join(vecs_dir, f"batch={bkey}")
    )
    return decisions


def embedding_index_integrity(spark: SparkSession, index_dir: str) -> DataFrame:
    """DQ audit over a persisted embedding dedup index (the
    bands + vectors legs the nightly embedding leg maintains) —
    the stored-index analog of dq.py's table audits, because at 100 TB
    the index IS a production table that rots like any other
    (partial restores, manual surgery, a writer bug):

    one row of violation counters —
    - ``n_vectors`` / ``n_band_rows``: leg sizes;
    - ``n_orphan_band_rows``: band rows whose vec_id has no stored
      vector (broken referential integrity — candidates would join
      against vectors the rescore can't fetch);
    - ``n_incomplete_vectors``: stored vectors with != EMBED_LSH_BANDS band
      rows (partial banding — silent recall loss for those vectors);
    - ``n_stale_band_rows``: band rows that DISAGREE with the bucket
      recomputed from the stored vector (e.g. the index predates a
      banding-constant change — silent wrong-bucket candidates).

    A clean index reads (n, n·L, 0, 0, 0). Every check is an
    equi-join or grouped count over the two legs — no pairwise term,
    linear at any corpus size; the recompute reuses the registered
    embedding_band_rows arithmetic so 'stale' means 'would not be
    rebuilt bit-identically today'. Returned as ONE lazy plan (a
    tagged union of the violation frames under a conditional
    aggregate), not driver-side counts."""
    import os

    vecs = spark.read.parquet(os.path.join(index_dir, "vectors")).select(
        "vec_id", "v"
    )
    bands = spark.read.parquet(os.path.join(index_dir, "bands")).select(
        "vec_id", "band", "bucket"
    )
    first = vecs.select("v").first()
    if first is None:
        # vectors leg exists but is EMPTY — the exact rot scenario the
        # audit is for (a wiped restore, a torn first write). Every
        # band row is then an orphan; there is nothing to recompute,
        # so the stale check is vacuously zero rather than a crash
        # (ADVICE r8: None[0] TypeError here turned the audit into the
        # failure it was meant to report).
        return bands.groupBy().agg(
            F.lit(0).cast("long").alias("n_vectors"),
            F.count("*").alias("n_band_rows"),
            F.count("*").alias("n_orphan_band_rows"),
            F.lit(0).cast("long").alias("n_incomplete_vectors"),
            F.lit(0).cast("long").alias("n_stale_band_rows"),
        )
    dim = len(first[0])
    recomputed = embedding_band_rows(vecs, dim).select(
        "vec_id",
        F.col("band").alias("r_band"),
        F.col("bucket").alias("r_bucket"),
    )
    orphans = bands.join(vecs.select("vec_id"), "vec_id", "left_anti")
    incomplete = (
        vecs.select("vec_id")
        .join(bands.groupBy("vec_id").count(), "vec_id", "left")
        .where(F.coalesce(F.col("count"), F.lit(0)) != F.lit(EMBED_LSH_BANDS))
    )
    stale = bands.join(
        recomputed,
        (bands.vec_id == recomputed.vec_id)
        & (bands.band == recomputed.r_band)
        & (bands.bucket == recomputed.r_bucket),
        "left_anti",
    ).join(vecs.select("vec_id"), "vec_id", "left_semi")

    def _tag(df: DataFrame, k: str) -> DataFrame:
        return df.select(F.lit(k).alias("k"))

    tagged = (
        _tag(vecs, "n_vectors")
        .unionByName(_tag(bands, "n_band_rows"))
        .unionByName(_tag(orphans, "n_orphan_band_rows"))
        .unionByName(_tag(incomplete, "n_incomplete_vectors"))
        .unionByName(_tag(stale, "n_stale_band_rows"))
    )
    counters = [
        "n_vectors",
        "n_band_rows",
        "n_orphan_band_rows",
        "n_incomplete_vectors",
        "n_stale_band_rows",
    ]
    return tagged.groupBy().agg(
        *[
            F.sum(F.when(F.col("k") == c, 1).otherwise(0)).alias(c)
            for c in counters
        ]
    )


#: auto path selection: LSH only if its candidate-generation join
#: volume undercuts brute-force scoring by ≥ 2× — the banding UDF, the
#: pair distinct and the gather stages have to be paid for (SCALING.md
#: round-3: on a threshold-hugging corpus the LSH path generates ≈ all
#: pairs AND loses to the exact blocked plan).
EMBED_AUTO_CAND_FRACTION = 0.5


def embedding_neardup_auto(emb: DataFrame, dim: int) -> tuple[DataFrame, str]:
    """Choose the embedding near-dup plan by MEASURED candidate
    density, then run it — SCALING.md's round-3 finding made explicit:
    banded LSH wins when its buckets prune, and a threshold-hugging
    cosine distribution (where candidates ≈ all pairs) defeats banding
    information-theoretically, at which point the exact blocked plan
    is strictly better (no banding UDF, no distinct, same scoring
    volume).

    The probe is one cheap aggregate over the banding stage the LSH
    path would run anyway: Σ_{band,bucket} C(k,2) — the number of
    co-bucket pair slots the candidate equi-join would emit BEFORE the
    distinct (its true join volume, multi-band multiplicity included)
    — collected as two scalars (a bounded driver action, like AQE's
    runtime statistics). LSH runs iff that volume undercuts the
    n(n−1)/2 pairs brute force would score by
    ``EMBED_AUTO_CAND_FRACTION``; ties and the empty frame fall back
    to exact.

    Returns ``(pairs, path)`` with path ∈ {"exact", "lsh"} so tests
    pin the decision on both a separated corpus (distinct directions →
    buckets prune → "lsh") and a threshold-hugging one (every pair
    collides → "exact")."""
    n = emb.count()
    total_pairs = n * (n - 1) / 2.0
    if total_pairs <= 0:
        return embedding_neardup_exact(emb), "exact"
    est = (
        embedding_band_rows(emb, dim)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("k"))
        .agg(F.sum(F.col("k") * (F.col("k") - 1) / 2).alias("cp"))
        .collect()[0]["cp"]
        or 0.0
    )
    if est < EMBED_AUTO_CAND_FRACTION * total_pairs:
        return embedding_neardup_lsh(emb, dim), "lsh"
    return embedding_neardup_exact(emb), "exact"


def dedup_embedding_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered auto-selected embedding near-dup. On this fixture
    the loose 0.4 threshold forces shallow-wide banding (b=2, L=12)
    whose collision volume ≈ bands × all pairs, so the probe correctly
    picks the EXACT path — hence the exact DuckDB oracle is the right
    one and the result hash-matches :func:`dedup_embedding`. At a
    production threshold (≥ 0.9, b=8 bands) the probe picks LSH —
    pinned with both fixtures in tests/test_dedup.py."""
    pairs, _path = embedding_neardup_auto(
        _normalized_embeddings(spark, sf_dir), dim=64
    )
    return pairs


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): k-means partition, then prune within
# clusters only
# ---------------------------------------------------------------------------

def semantic_dedup_flags(emb: DataFrame) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space (the distributed
    spherical Lloyd in operators/similarity.py), then compare vectors
    ONLY within their cluster — keep-first: a vector is a semantic dup
    iff some LOWER vec_id in the same cluster has quantized cosine ≥
    EMBED_DUP_THRESHOLD.

    This is the scale contract that makes embedding dedup tractable at
    100 TB: the quadratic pair space shrinks from n² to Σ_c |c|² — with
    balanced clusters a k-fold reduction, and the per-cluster work is
    one applyInPandas task partitioned by cluster id (chunked numpy
    scoring, same per-task memory discipline as dedup_embedding). The
    trade is recall across cluster boundaries, which is SemDeDup's
    published trade too; boundary behavior is deterministic here
    because assignment argmax and cosines are quantized at scale 6 on
    both engines.

    Cluster sizing at 100 TB: the cluster is the parallelism AND
    memory unit (per-task matrix is |c|·dim doubles, per-cluster wall
    is O(|c|²·dim)), so production sets k ≈ n/10k to hold |c| near
    10⁴ — SemDeDup itself runs k in the tens of thousands for
    billion-doc corpora — and a skew-guard splits any runaway cluster
    (re-run k-means within it) exactly like the LSH bucket cap."""
    from mpi_mapreduce_spark.operators.similarity import kmeans_assignments

    # keep_vec carries v on the assignment row — no corpus self-join
    data = kmeans_assignments(emb, keep_vec=True).select(
        "vec_id", "v", "cluster"
    )
    raw_cut = EMBED_DUP_THRESHOLD  # comparisons use the quantized dots directly

    def _prune(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.vstack(pdf["v"].to_numpy()) if len(pdf) else np.zeros((0, 1))
        dup = np.zeros(len(ids), dtype=bool)
        chunk = 1 << 12  # caps the (chunk × cluster) score matrix
        for s in range(1, len(ids), chunk):
            rows = np.arange(s, min(s + chunk, len(ids)))
            # dots of each chunk row against ALL cluster vectors,
            # accumulated component-by-component: acc = ((0+p1)+p2)+…
            # — the same per-pair left-fold add order as cumsum /
            # list_dot_product, just batched across pairs
            acc = np.zeros((len(rows), len(ids)))
            for t in range(m.shape[1]):
                acc += np.outer(m[rows][:, t], m[:, t])
            q = (
                np.where(
                    acc >= 0,
                    np.floor(acc * 1e6 + 0.5),
                    np.ceil(acc * 1e6 - 0.5),
                )
                / 1e6
            )
            mask = ids[None, :] < ids[rows][:, None]
            dup[rows] = np.any((q >= raw_cut) & mask, axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy(),
                "is_dup": dup,
            }
        )

    flags = data.groupBy("cluster").applyInPandas(
        _prune, "vec_id long, cluster int, is_dup boolean"
    )
    return flags.select(
        "vec_id", "cluster", "is_dup", (~F.col("is_dup")).alias("keep")
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered SemDeDup: per-vector cluster + keep/drop decision,
    fully oracle-checked (the k-means CTE chain is shared with
    embedding_kmeans; the within-cluster EXISTS mirrors keep-first)."""
    return semantic_dedup_flags(_normalized_embeddings(spark, sf_dir))


def _oracle_dedup_semantic() -> str:
    from mpi_mapreduce_spark.operators.similarity import KMEANS_SQL_CTE

    return KMEANS_SQL_CTE + f"""
    , semdup AS (
      SELECT b.vec_id
      FROM a1 a JOIN a1 b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id
      WHERE {ex.sql_quantize('list_dot_product(na.v, nb.v)', 6)}
            >= {EMBED_DUP_THRESHOLD}
      GROUP BY b.vec_id
    )
    SELECT a1.vec_id, a1.cluster,
           a1.vec_id IN (SELECT vec_id FROM semdup) AS is_dup,
           NOT (a1.vec_id IN (SELECT vec_id FROM semdup)) AS keep
    FROM a1
"""


_DEDUP_EMBEDDING_CTE = """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS v
      FROM v
    )
"""

ORACLE_DEDUP_EMBEDDING = _DEDUP_EMBEDDING_CTE + f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0 AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0
          >= {EMBED_DUP_THRESHOLD}
"""

# banded shape: exact side recomputed, invariant flag pinned TRUE (the
# hyperplane bucket structure itself is not SQL-expressible)
ORACLE_DEDUP_EMBEDDING_LSH_VALIDATE = _DEDUP_EMBEDDING_CTE + f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0 AS cosine,
           TRUE AS found_iff_cobucketed
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0
          >= {EMBED_DUP_THRESHOLD}
"""

# the incremental twin: the same exact-cosine derivation restricted to
# batch×corpus pairs (exactly one side in tonight's batch), flag
# pinned TRUE (the sign-hyperplane buckets aren't SQL-expressible)
ORACLE_INCREMENTAL_EMBEDDING_VALIDATE = _DEDUP_EMBEDDING_CTE + f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0 AS cosine,
           TRUE AS found_iff_cobucketed
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0
          >= {EMBED_DUP_THRESHOLD}
      AND (a.vec_id % {INCR_BATCH_MOD} = 0) <> (b.vec_id % {INCR_BATCH_MOD} = 0)
"""


# ---------------------------------------------------------------------------
# Cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

#: Edge budget of the driver-side union-find in
#: :func:`connected_components`. A graph with at most this many edges
#: is collected (one job) and resolved in the driver; a bigger one runs
#: the distributed min-label loop. Measured at the budget (1M random
#: edges over 2M ids, local[4] on a 4-vCPU box): collect, union-find
#: and label frame took 11.5 s wall and 6.9 s of driver CPU, and the
#: driver's Python process peaked under 650 MB — a handful of
#: distributed rounds (each a shuffle, a checkpoint and a count job)
#: cost as much. A web crawl's pair graph is far above it, and there
#: only the distributed loop runs. Read at call time, so tests can
#: move it.
CC_DRIVER_MAX_EDGES = 1 << 20


def _union_find_min_labels(pairs) -> dict:
    """{vertex: smallest vertex of its component} over an edge list.
    Each union hangs the larger root under the smaller, so every root
    is its component's minimum: the fixpoint min-label propagation
    reaches, without its rounds."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def connected_components(edges: DataFrame) -> DataFrame:
    """(id, component) where component is the smallest doc_id in each
    connected component of the near-dup pair graph. This is how
    pairwise dedup output becomes keep/drop decisions (keep the
    component representative, drop the rest).

    Two paths, picked by the observed edge count against
    :data:`CC_DRIVER_MAX_EDGES`, with identical labels:

    - **At most the budget** (every benchmark and fixture corpus):
      the checkpointed edges come back in one collect and a driver
      union-find resolves them. The labels return as a driver-side
      pandas frame, which plans as a JVM-side ``LocalTableScan`` (no
      Python worker). Past the pair query that is one checkpoint and
      one collect, whatever the graph's diameter.
    - **Above the budget** (a web crawl's pair graph): iterative
      min-label propagation, a loop the optimizer can't express
      declaratively. Each round every vertex takes min(own label,
      neighbors' labels); it stops when no label changes, about
      diameter + 1 rounds. There is no round cap: a cap returns labels
      that have not converged, silently, on a long chain of edited
      versions. Near-dup clusters are shallow (2 rounds on the sf0.1
      fixture), so a path-halving pointer hop per round was tried in
      r13 and REVERTED: it cannot shorten a 2-round loop, and its
      extra label self-join cost ~0.3 s/round.

    Iterative-Spark hygiene, which IS the 100 TB design: labels are
    localCheckpoint'ed each round (eager) to truncate lineage —
    without it the plan doubles per iteration and the driver ooms
    planning long chains; the convergence test is a count() action per
    round (at scale: check every k rounds to save jobs). Each round is
    one shuffle on vertex id; edges stay partitioned by src."""
    # materialize the edge list ONCE — without this every round
    # re-executes the upstream pair query (e.g. the whole
    # ngram-Jaccard join): measured 13s -> ~4s at sf0.1. Checkpoint
    # BEFORE symmetrizing: a union of two projections of the lazy
    # pair frame executes the pair query once PER BRANCH (exchange
    # reuse does not span the union here), so checkpointing the union
    # paid the heavy join twice; the symmetrizing union over the
    # materialized rows is narrow and free to re-derive per round.
    e = edges.select("doc_a", "doc_b").localCheckpoint()
    # one partition, so the bounded collect is one job rather than
    # the incremental partition scan a plain limit makes
    rows = e.coalesce(1).limit(CC_DRIVER_MAX_EDGES + 1).collect()
    if len(rows) <= CC_DRIVER_MAX_EDGES:
        labels = _union_find_min_labels(rows)
        if not labels:
            # createDataFrame skips Arrow for an empty pandas frame and
            # would plan a Python-worker scan; limit 0 plans an empty
            # LocalTableScan instead
            return e.select(
                F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("comp")
            ).limit(0)
        id_type = edges.schema["doc_a"].dataType
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(
                {"doc_id": list(labels), "comp": list(labels.values())}
            ),
            StructType(
                [StructField("doc_id", id_type), StructField("comp", id_type)]
            ),
        )
    sym = e.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        e.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    # Round 1 needs no label frame: every vertex (a src of sym) starts
    # as its own label, so its neighbors' minimum label is min(dst)
    # over its own edges — one aggregate over sym. A lazy initial label
    # frame would be referenced twice, and AQE picks by stage timing
    # which reference becomes the reused exchange, so a warm call could
    # meet a plan (and generated classes) it had not compiled yet.
    cand = sym.groupBy("src").agg(F.min("dst").alias("nb_comp")).select(
        F.col("src").alias("id"), F.col("src").alias("comp"), "nb_comp"
    )
    while True:
        # Carry the convergence flag INSIDE the checkpointed frame:
        # the per-round changed-test is then a shuffle-free scan of
        # the already-materialized rows instead of a second join job
        # against the previous round's labels (one join + exchange
        # fewer per round; same labels, same fixpoint).
        new_labels = cand.select(
            "id",
            F.least(F.col("comp"), F.coalesce("nb_comp", "comp")).alias(
                "comp"
            ),
            (F.coalesce("nb_comp", "comp") < F.col("comp")).alias("chg"),
        ).localCheckpoint()
        changed = new_labels.where("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
        # shuffle-hash on the label side, pinned by hint: left to AQE,
        # this join became a broadcast of whichever side's shuffle
        # stage happened to finish first (both fit under the threshold
        # on small corpora), another timing-dependent plan; at scale
        # labels is one row per vertex and must not be broadcast anyway
        nb_min = (
            sym.join(
                labels.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("comp").alias("nb_comp"))
        )
        cand = labels.join(nb_min, labels["id"] == nb_min["src"], "left")
    return labels.select(F.col("id").alias("doc_id"), "comp")


def _collapsed_component_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the CC-family queries, collapsed-first:

    - ``rr``: every doc's verbatim-replica bookkeeping ``(doc_id, rep,
      grp_n)`` — the keep-first exact representative (min doc_id over
      identical text) and the replica-group width, from ONE window
      shuffle on the compound ``(xxhash64(text), text)`` key;
    - ``comp_c``: min-label CC over the ngram-Jaccard pair graph of
      the COLLAPSED corpus only.

    Running the pair query on representatives instead of the raw
    corpus is the same measured necessity as in
    :func:`pipeline_canonical_containment` (the raw-corpus
    inverted-index join squares per-shingle df — 100× replication
    exhausted heap then spill disk), and it is exact for the full
    graph: replicas share their representative's shingle set and
    length band, so full-graph connectivity and component labels
    (min doc_id, always a representative) reconstruct from ``comp_c``
    through ``rr`` with one broadcast-sized join.

    The grp_n ≥ 2 vertex reconstruction assumes every doc has ≥ 1
    token (replica pairs at Jaccard 1): see the non-empty-text fixture
    precondition on :func:`_ngram_jaccard_oracle` — token-less docs
    shingle to ∅ in the engine (no pairs, even between identical
    empty texts) but to {''} in the oracle.

    Cache lifetime: the MEMORY_AND_DISK banded shingle index lives
    until session end (the returned frames are lazy, so this function
    cannot unpersist it) — acceptable for the one-invocation driver
    jobs the CC family registers, and deliberate across calls: every
    CC-family query over the same corpus re-persists the SAME analyzed
    plan, which the CacheManager dedupes, so later calls read the
    warm index instead of rebuilding it. A long-lived session over
    many different corpora should spill the index to a real table
    instead, which is what production does anyway."""
    docs = _docs(spark, sf_dir)
    w = W.partitionBy(F.xxhash64("text"), F.col("text"))
    rr = docs.select(
        "doc_id",
        F.min("doc_id").over(w).alias("rep"),
        F.count(F.lit(1)).over(w).alias("grp_n"),
    )
    # r14 (VERDICT r13 item 4): materialize the banded SHINGLE INDEX,
    # not the collapsed corpus. The r13 canon0 localCheckpoint fixed
    # the per-branch re-derivation but paid row-based LogicalRDD scans
    # under every pair-query branch (~2× a vectorized scan, the
    # documented residual); a columnar persist of canon0 measured even
    # worse (7.4 s vs 6.3 s ckpt — the cache write isn't free and the
    # shingle explode still runs per branch). Persisting the banded
    # srows instead — the same artifact shape
    # pipeline_canonical_containment already persists — makes every
    # pair-query branch (a/b sides, sizes) read the index once and
    # leaves canon0 fully lazy (its replica-window + semi-join subtree
    # runs exactly once, inside the index build). A/B at sf0.1, full
    # dedup_canonical_corpus, min-of-3 (/tmp/ab_canon.py):
    # ckpt 6.33 s / canon0-persist 7.41 s / lazy+srows-persist 4.06 s;
    # MEMORY_AND_DISK beat DISK_ONLY 4.48 vs 5.08 (tiny index at
    # sf0.1 — at 100 TB this artifact is a real table, same story as
    # the pipeline's DISK_ONLY note).
    canon0 = docs.join(
        rr.where(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    srows = (
        shingle_rows(canon0)
        .join(
            canon0.select(
                "doc_id",
                (F.col("n_chars") / LEN_BAND).cast("long").alias("band"),
            ),
            "doc_id",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    comp_c = connected_components(
        ngram_jaccard_pairs(canon0, srows=srows).select("doc_a", "doc_b")
    ).select(F.col("doc_id").alias("rep"), "comp")
    return rr, comp_c


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components of the ngram-Jaccard near-dup graph: (doc_id,
    component representative) for every doc with at least one near-dup
    pair. Oracle = DuckDB recursive transitive closure over the FULL
    pair graph; the engine computes the collapsed-graph CC and
    re-expands (see :func:`_collapsed_component_frames`) — a doc is a
    full-graph vertex iff it has a verbatim replica (pairs with it at
    Jaccard 1, same band) or its representative pairs in the collapsed
    graph, and its label is its representative's collapsed label (or
    the representative itself for a pure replica group)."""
    rr, comp_c = _collapsed_component_frames(spark, sf_dir)
    return (
        rr.join(comp_c, "rep", "left")
        .where((F.col("grp_n") >= 2) | F.col("comp").isNotNull())
        .select(
            "doc_id", F.coalesce("comp", "rep").alias("component")
        )
    )


def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision a dedup pipeline actually emits: every
    document mapped to its near-dup cluster (ngram-Jaccard components;
    docs in no pair are their own singleton cluster), the cluster
    size, and whether this doc is the kept canonical copy (min doc_id
    = the component representative the min-label propagation already
    computes).

    Collapsed-first like the rest of the CC family
    (:func:`_collapsed_component_frames`): every doc's component is
    its representative's collapsed-graph label (its own rep when the
    rep has no cross-text pairs — this also covers singletons), the
    cluster size is a grouped count over ALL docs, and the heavy pair
    stage only ever sees one doc per distinct text. The size is a
    window count, not a self-join of the labeled frame against its own
    aggregate: the two references of a self-join let AQE pick by stage
    timing which one becomes the reused exchange, so a warm call could
    meet a plan (and generated classes) it had not compiled yet."""
    rr, comp_c = _collapsed_component_frames(spark, sf_dir)
    component = F.coalesce("comp", "rep")
    return rr.join(comp_c, "rep", "left").select(
        "doc_id",
        component.alias("component"),
        F.count(F.lit(1))
        .over(W.partitionBy(component))
        .alias("cluster_size"),
        (F.col("doc_id") == component).alias("is_canonical"),
    )


#: the recursive closure of the ngram-Jaccard pair graph, shared by
#: every connected-component oracle: ``comp`` holds (doc_id, component
#: = the least reachable doc_id) for each doc that has a pair
CC_SQL_CTE = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({ORACLE_NGRAM_JACCARD})
    ), sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), comp AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    )"""

ORACLE_CANONICAL_CORPUS = CC_SQL_CTE + """, labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size,
           doc_id = component AS is_canonical
    FROM labeled
"""


def pipeline_canonical_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production DEDUP ORDERING, composed end-to-end: containment
    subset-copy detection runs on the CANONICAL corpus — after
    verbatim/near-dup clusters have collapsed to one representative —
    not on the raw one. SCALING.md's 30× cap study is the reason: on a
    replica-saturated corpus the containment join's df² work is
    irreducible true-duplicate mass that no hot-key guard may remove,
    but after canonicalization each cluster contributes ONE doc, df
    reflects genuine cross-document sharing, and the hot-shingle cap
    is back to guarding only boilerplate skew.

    Composition of attested pieces, with the EXACT COLLAPSE FIRST at
    every pairwise stage — including the canonicalization pair query
    itself: exact keep-first collapse → ngram-Jaccard pairs over the
    collapsed corpus → iterative connected components → drop
    non-representative members → containment pairs over the kept docs.

    Collapsing before the PAIR QUERY (not just before containment) is
    output-preserving: verbatim replicas have identical shingle sets
    and identical length bands, so replacing a replica group by its
    min-doc_id member preserves near-dup connectivity exactly, and
    the min doc_id of every CC component is itself a kept
    representative — the canonical set, and therefore the containment
    output, is unchanged (the DuckDB oracle still computes the
    recursive closure over the FULL pair graph and hash-matches).
    Measured necessity, not a nicety: at the 100× verbatim-replica
    rehearsal the raw-corpus pair stage's inverted-index join squares
    the per-shingle df (~10⁴× base join volume) and blew through
    first a 16 GB heap (deserialized full-corpus shingle cache), then
    79 GB of shuffle-spill disk; collapsed-first, the same pipeline
    runs in seconds (SCALING.md round-5 table).

    The canonical-corpus shingle INDEX is built once, persisted
    DISK_ONLY (a table-shaped artifact in production, not executor
    heap), and feeds both inverted-index stages; the canonical filter
    is ONE anti-join (docs minus component members whose label isn't
    their own id — singletons never appear in the label frame, so
    they survive by absence), skipping dedup_canonical_corpus's
    cluster-size aggregate, which the pipeline never consumes.

    Cache lifetime: the DISK_ONLY entry lives until session end (the
    returned frame is lazy, so this function cannot unpersist it) —
    acceptable for the one-invocation driver jobs this registers;
    a long-lived session should spill the index to a real table
    instead, which is what production does anyway."""
    from pyspark import StorageLevel

    canon0 = exact_canonical_docs(_docs(spark, sf_dir))
    # the index carries its length band: ngram_jaccard_pairs then
    # never re-derives the exact-collapse aggregate just to join
    # bands back on (the band is 8 bytes/row in a DISK_ONLY artifact;
    # containment ignores the extra column)
    srows = (
        shingle_rows(canon0)
        .join(
            canon0.select(
                "doc_id",
                (F.col("n_chars") / LEN_BAND).cast("long").alias("band"),
            ),
            "doc_id",
        )
        .persist(StorageLevel.DISK_ONLY)
    )
    comp = connected_components(
        ngram_jaccard_pairs(canon0, srows=srows).select("doc_a", "doc_b")
    )
    dropped = comp.where(F.col("comp") != F.col("doc_id")).select("doc_id")
    canon_srows = srows.join(dropped, "doc_id", "left_anti")
    return containment_pairs(canon0, srows=canon_srows)


ORACLE_PIPELINE_CANONICAL_CONTAINMENT = CC_SQL_CTE + f""", canon AS (
      SELECT d.doc_id FROM documents d LEFT JOIN comp c USING (doc_id)
      WHERE COALESCE(c.component, d.doc_id) = d.doc_id
    ), ctoks AS (
      SELECT t.doc_id,
             list_filter(string_split(lower(t.text), ' '), x -> x <> '') AS tok
      FROM documents t JOIN canon USING (doc_id)
    ), csh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM ctoks
    ), cr AS (
      SELECT doc_id, unnest(sh) AS s FROM csh
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM cr GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM cr a JOIN cr b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND((ni::DOUBLE / least(na.n, nb.n)) * 1000000.0) / 1000000.0
             AS containment
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE ROUND((ni::DOUBLE / least(na.n, nb.n)) * 1000000.0) / 1000000.0
          >= {CONTAINMENT_THRESHOLD}
"""


ORACLE_CONNECTED_COMPONENTS = CC_SQL_CTE + """
    SELECT doc_id, component FROM comp
"""


# ---------------------------------------------------------------------------
# Cross-document repeated n-grams (duplicated-passage / memorization risk)
# ---------------------------------------------------------------------------

#: word-8-gram granularity for repeated-passage detection — long enough
#: that natural-language collisions are rare (Lee et al. 2022 use 50
#: BPE tokens for exact substring dedup; 8 words is the word-level
#: analogue at this fixture's doc lengths), short enough to catch
#: partially-copied passages exact dedup misses.
REPEAT_NGRAM_N = 8


def positional_ngram_rows(docs: DataFrame, n: int) -> DataFrame:
    """Positional word n-grams: one row per gram occurrence —
    ``(doc_id, q, glen, s)`` where ``q`` is the 0-based token index the
    gram starts at and ``glen`` its token length (= n, except the
    whole-doc gram of a doc shorter than n tokens).

    Derivation stays shuffle-free like the r13 array form (no
    exchange + per-doc sort before a single gram exists, unlike the
    r12 posexplode→window lag/leads shape), but the per-gram work is
    CODEGEN'D (r14): the start offsets are a plain
    posexplode(sequence(0, size-n)) Generate — which participates in
    whole-stage codegen — and the gram string is
    array_join(slice(tok, q+1, n)) computed as ordinary expressions
    in the same codegen stage. The r13 transform-over-sequence HOF
    built the same rows but evaluated the lambda (n element_ats +
    concat per gram) INTERPRETED, which the driver's r13 bench
    caught: dedup_substring_spans 2.73→4.20 s. r14 A/B at sf0.1,
    full-query min-of-3 (/tmp/ab_spans.py, cold-ish session):
    array-HOF grams 1.82 s vs posexplode+slice 1.13 s on the spans
    query (both under the window-dup-filter tail), byte-identical
    output (pinned in tests/test_r13_optimizations.py and the
    property tests). Token-less docs contribute nothing."""
    tok = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
    )
    d = docs.select("doc_id", tok.alias("tok"))
    full = (
        d.where(F.size("tok") >= n)
        .select(
            "doc_id",
            "tok",
            F.explode(F.sequence(F.lit(0), F.size("tok") - n)).alias("qq"),
        )
        .select(
            "doc_id",
            F.col("qq").cast("int").alias("q"),
            F.lit(n).cast("long").alias("glen"),
            F.array_join(
                F.slice("tok", F.col("qq") + 1, n), " "
            ).alias("s"),
        )
    )
    # doc shorter than n tokens: its whole token string is the single
    # gram at q=0; glen = token count
    short = d.where(
        (F.size("tok") > 0) & (F.size("tok") < n)
    ).select(
        "doc_id",
        F.lit(0).alias("q"),
        F.size("tok").cast("long").alias("glen"),
        F.array_join("tok", " ").alias("s"),
    )
    return full.unionByName(short)


def containment_pairs(
    docs: DataFrame,
    max_shingle_df: int | None = None,
    srows: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    |A∩B| / min(|A|,|B|) ≥ 0.8 over word-3-gram shingle sets.

    The complement to ngram_jaccard_pairs: a 50-word doc wholly pasted
    into a 5000-word doc has Jaccard ≈ 1% (invisible) but containment
    = 1.0 — exactly the quote/aggregation/subset-copy case an LLM
    corpus needs flagged. Because the relationship is cross-length by
    nature, there is NO length-band blocking here; the inverted-index
    join is the blocking (pairs must share a shingle), so
    ``max_shingle_df`` — the SAME :func:`_cap_hot_shingles` guard the
    Jaccard path applies — is the production knob: work is Σ_shingle
    df², and one boilerplate shingle with df=10⁶ would otherwise emit
    10¹² pairs from a single join key. The cap filters the VOCABULARY
    (sizes recomputed over the filtered rows, consistent with the
    Jaccard path); a pasted subset-copy still shares its distinctive
    shingles, so true containment survives while hot buckets vanish —
    pinned on planted hot-shingle data in tests/test_dedup.py.

    ``srows``: optionally pass precomputed shingle rows for ``docs``
    (the shared shingle-index artifact; ``docs`` itself is then only
    documentation of provenance — every downstream frame derives from
    the rows)."""
    # NOTE (r14, measured): an explicit s-repartition ahead of the
    # self-join (the ngram_jaccard_pairs raw-path fix) was tried here
    # and REVERTED — the registered containment query got SLOWER
    # (1.59 → 2.28 s at sf0.1): its pair volume is too small for the
    # pinned 32-wide stage tree to beat AQE's coalesced few-task plan,
    # and the pipeline/CC callers feed a persisted index whose
    # consumers AQE already sizes well (pipeline_canonical_containment
    # regressed 2.9 → 6.2 s with the repartition applied here).
    srows = _cap_hot_shingles(
        srows if srows is not None else shingle_rows(docs), max_shingle_df
    )
    sizes = srows.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = srows.select(F.col("doc_id").alias("doc_a"), "s")
    b = srows.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ex.quantize(
                F.col("ni").cast("double") / F.least("na", "nb"), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered exact form of :func:`containment_pairs` (uncapped
    vocabulary — bit-exact vs the DuckDB oracle; production callers
    pass ``max_shingle_df`` for the 100 TB hot-shingle guard)."""
    return containment_pairs(_docs(spark, sf_dir))


def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested form of the capped containment path (see
    :func:`dedup_ngram_jaccard_capped` — same rationale: the df cap
    is SQL-expressible, so the production guard gets a hash-matched
    oracle instead of pytest-only evidence; at ``REGISTERED_DF_CAP``
    the fixture's pair SET changes vs the uncapped query, proving the
    filter is live)."""
    return containment_pairs(
        _docs(spark, sf_dir), max_shingle_df=REGISTERED_DF_CAP
    )


def _capped_rows_sql(cap: int) -> str:
    """Shared DuckDB CTE chain: distinct (doc_id, n_chars, shingle)
    rows with shingles of df > cap dropped from the vocabulary, plus
    per-doc sizes recomputed POST-filter — the exact semantics of
    ``_cap_hot_shingles`` + downstream sizes."""
    return f"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id, n_chars,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM toks
    ), r AS (
      SELECT doc_id, n_chars, unnest(sh) AS s FROM sh
    ), dfreq AS (
      SELECT s, count(*) AS df FROM r GROUP BY s
    ), kept AS (
      SELECT doc_id, n_chars, s FROM r JOIN dfreq USING (s)
      WHERE df <= {cap}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
    )
    """


ORACLE_NGRAM_JACCARD_CAPPED = _capped_rows_sql(REGISTERED_DF_CAP) + f"""
    , inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM kept a JOIN kept b
        ON a.s = b.s AND a.doc_id < b.doc_id
       AND abs(a.n_chars // {LEN_BAND} - b.n_chars // {LEN_BAND}) <= 1
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND((ni::DOUBLE / (na.n + nb.n - ni)) * 1000000.0) / 1000000.0
             AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE ROUND((ni::DOUBLE / (na.n + nb.n - ni)) * 1000000.0) / 1000000.0
          >= {JACCARD_THRESHOLD}
"""


ORACLE_CONTAINMENT_CAPPED = _capped_rows_sql(REGISTERED_DF_CAP) + f"""
    , inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM kept a JOIN kept b
        ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND((ni::DOUBLE / least(na.n, nb.n)) * 1000000.0) / 1000000.0
             AS containment
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE ROUND((ni::DOUBLE / least(na.n, nb.n)) * 1000000.0) / 1000000.0
          >= {CONTAINMENT_THRESHOLD}
"""


# candidate generation via the inverted shingle index (r13, VERDICT
# r12 item 5): CONTAINMENT_THRESHOLD > 0 and positive containment
# requires a shared shingle, so restricting pairs to shingle-sharers
# is lossless — the containment itself is still recomputed from the
# full shingle lists per pair (same attestation, candidate-mass cost
# instead of C(n,2))
ORACLE_CONTAINMENT = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= {SHINGLE_N}
                  THEN list_distinct(list_transform(range(len(tok) - {SHINGLE_N - 1}),
                       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM toks
    ), inv AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b, a.sh AS sha, b.sh AS shb
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND((len(list_intersect(sha, shb))::DOUBLE
                  / least(len(sha), len(shb))) * 1000000.0) / 1000000.0
             AS containment
    FROM pairs
    WHERE ROUND((len(list_intersect(sha, shb))::DOUBLE
                 / least(len(sha), len(shb))) * 1000000.0) / 1000000.0
          >= {CONTAINMENT_THRESHOLD}
"""


def token_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, p, tok): lowercased whitespace tokens with CONSECUTIVE
    0-based positions (re-ranked after empty-token filtering, so gram
    start offsets from :func:`positional_ngram_rows` line up as token
    spans). One window pass, codegen'd."""
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("p0", "tok"),
    ).where(F.col("tok") != "")
    w = W.partitionBy("doc_id").orderBy("p0")
    return tok.select(
        "doc_id", (F.row_number().over(w) - 1).alias("p"), "tok"
    )


def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage exposure: the fraction of a
    doc's distinct word-8-grams that also occur in at least one OTHER
    document. Catches partial copying (shared paragraphs, templated
    spans) that whole-document dedup_exact misses and that Jaccard
    near-dup only sees when most of the doc matches.

    Plan: gram rows (linear in tokens) → doc-frequency groupBy on the
    gram string (map-side combine; hot grams are single aggregated
    keys, never a pair expansion — unlike the inverted-index join in
    ngram_jaccard there is NO quadratic term anywhere) → equi-join df
    back onto gram rows → per-doc grouped count. Every stage shuffles
    on one key and is linear in the gram-row count; at 100 TB the gram
    string would be replaced by its xxhash64 (8-byte shuffle key) at
    the cost of the DuckDB-checkable property.

    ``flagged`` uses integer arithmetic (2·dup ≥ total), no float
    threshold; ``dup_frac`` is quantized for the bit-exact oracle
    compare."""
    return repeated_ngram_stats(_docs(spark, sf_dir))


def repeated_ngram_stats(docs: DataFrame) -> DataFrame:
    """Core of :func:`dedup_repeated_ngrams` over any (doc_id, text)
    frame — separated so tests can plant shared passages."""
    grams = (
        positional_ngram_rows(docs, REPEAT_NGRAM_N)
        .select("doc_id", "s")
        .distinct()
    )
    dfreq = grams.groupBy("s").agg(F.count("*").alias("df"))
    per = (
        grams.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        ex.quantize(
            F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6
        ).alias("dup_frac"),
        (F.col("n_dup_grams") * 2 >= F.col("n_grams")).alias("flagged"),
    )


def _ngram_concat_sql(n: int) -> str:
    """DuckDB expression for tok[i+1..i+n] joined by spaces."""
    return " || ' ' || ".join(f"tok[i+{j}]" for j in range(1, n + 1))


ORACLE_REPEATED_NGRAMS = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= {REPEAT_NGRAM_N}
                  THEN list_distinct(list_transform(
                       range(len(tok) - {REPEAT_NGRAM_N - 1}),
                       i -> {_ngram_concat_sql(REPEAT_NGRAM_N)}))
                  ELSE [array_to_string(tok, ' ')] END AS sh
      FROM toks WHERE len(tok) > 0
    ), r AS (
      SELECT doc_id, unnest(sh) AS s FROM sh
    ), dfreq AS (
      SELECT s, count(*) AS df FROM r GROUP BY s
    )
    SELECT r.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           ROUND((CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*)) * 1000000.0) / 1000000.0 AS dup_frac,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 2
             >= count(*) AS flagged
    FROM r JOIN dfreq USING (s)
    GROUP BY r.doc_id
"""


# ---------------------------------------------------------------------------
# Exact substring-span dedup (maximal repeated token spans)
# ---------------------------------------------------------------------------

#: minimum duplicated run length in tokens — the k of the k-gram match
#: seed (Lee et al., "Deduplicating Training Data Makes Language
#: Models Better", uses 50 BPE tokens on web corpora; 8 word tokens
#: keeps the fixture's planted shared passages detectable)
SPAN_N = 8


def duplicated_span_rows(docs: DataFrame) -> DataFrame:
    """Maximal cross-document duplicated token spans — the
    EXACT-SUBSTRING complement to document-level dedup: one row
    ``(doc_id, span_start, span_end, span_tokens)`` per maximal run of
    tokens that is covered by at least one ``n``-gram (n = SPAN_N)
    occurring in ≥ 2 distinct documents. This is the span-level operator behind
    "remove every ≥k-token substring that repeats across the corpus"
    (the suffix-array dedup of Lee et al. 2021) re-expressed on
    Spark's relational primitives: the k-gram seed match replaces the
    suffix array, and interval merging recovers maximality.

    Plan — linear end to end, no pairwise term anywhere (contrast with
    the inverted-index JOIN in containment_pairs: here a hot gram
    amplifies linearly, never df²): positional gram rows (shuffle-free,
    codegen'd) → ONE window pass over partitionBy(s) computing
    min/max(doc_id) per gram — "df ≥ 2 over distinct docs" is exactly
    min(doc_id) ≠ max(doc_id), so the duplicated-gram filter needs
    neither the distinct+groupBy aggregate nor the join back onto
    occurrences (shuffle on the gram string; at 100 TB the key becomes
    xxhash64(s) — 8-byte shuffle rows — at the cost of the
    DuckDB-checkable property) → per-doc gaps-and-islands merge of the
    fixed-length intervals [q, q+n-1] (equal lengths ⇒ a lag()
    suffices, no prefix-max) → grouped min/max per island.

    The r13 shape evaluated the gram subtree TWICE — once under the
    distinct+groupBy building the df ≥ 2 vocabulary and once as the
    join probe (no exchange under either branch after the array
    rewrite ⇒ no exchange reuse to share the scan) — which the
    driver's r13 bench caught (dedup_substring_spans 2.73→4.20 s).
    r14 A/B at sf0.1, full query, min-of-3: distinct+join 3.95 s vs
    window-min/max 1.82 s over identical gram rows (/tmp/ab_spans.py,
    byte-identical output; the window variant evaluates the gram
    subtree exactly once).

    Docs shorter than ``n`` tokens cannot contain an ``n``-token span
    and are excluded by construction (``glen == n`` filters the
    whole-doc short gram positional_ngram_rows emits)."""
    n = SPAN_N
    occ = positional_ngram_rows(docs, n).where(F.col("glen") == n)
    ws = W.partitionBy("s")
    starts = (
        occ.select(
            "doc_id",
            "q",
            F.min("doc_id").over(ws).alias("lo"),
            F.max("doc_id").over(ws).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .select("doc_id", "q")
    )
    return _spans_from_starts(starts, n)


def substring_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-token exposure derived from
    :func:`duplicated_span_rows`: how many of a doc's tokens sit
    inside some cross-document repeated ≥SPAN_N-token span — the corpus
    report that decides span-removal thresholds before training.
    Docs with no duplicated span come back with zeros (left join),
    not silently dropped; token-less docs contribute nothing (same
    contract as token_rows)."""
    spans = duplicated_span_rows(docs)
    per = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens"),
        F.count("*").alias("n_spans"),
    )
    ntok = token_rows(docs).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens")
    )
    dup_tokens = F.coalesce("dup_tokens", F.lit(0)).cast("long")
    return ntok.join(per, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup_tokens.alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        ex.quantize(
            dup_tokens.cast("double") / F.col("n_tokens"), 6
        ).alias("dup_frac"),
    )


def strip_duplicated_spans(docs: DataFrame) -> DataFrame:
    """The actionable form of :func:`duplicated_span_rows` — Lee et
    al. 2021 applied: every token inside a cross-document repeated
    ≥SPAN_N-token span is REMOVED and the document rebuilt token-exactly
    from what's left. Returns (doc_id, n_tokens, n_removed,
    clean_text); docs that are entirely duplicated span come back with
    empty clean_text (left join), not silently dropped.

    Same rebuild discipline as textops.strip_boilerplate: explode
    spans to covered positions → anti-join against token rows →
    per-doc ordered re-assembly (array_sort over (p, tok) structs —
    deterministic, positions unique). Spans are disjoint per doc by
    construction (maximal merged islands), so the covered frame needs
    no distinct. All stages shuffle on doc_id — one partitioning,
    reused."""
    spans = duplicated_span_rows(docs)
    covered = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("p"),
    )
    tokpos = token_rows(docs)
    kept = tokpos.join(covered, ["doc_id", "p"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    ntok = tokpos.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return ntok.join(clean, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def substring_gram_index_rows(corpus: DataFrame) -> DataFrame:
    """The stored ARTIFACT of the substring modality: the corpus's
    distinct full-SPAN_N-gram vocabulary, one ``(s)`` row per gram —
    what :func:`incremental_span_rows` probes instead of re-gramming
    the corpus per night (the round-8 caveat SCALING.md documented:
    every other incremental modality served from a registered index;
    this closes the last one). At 100 TB the key becomes xxhash64(s)
    — 8 bytes through the shuffle — but the string key keeps the
    DuckDB-checkable property, the repo's standing artifact
    convention (MinHash signatures, Bloom words, embedding buckets).
    Distinct-over-grams is a single hash aggregate: partial combine
    collapses repeats map-side, so the shuffle carries ≈ the
    vocabulary, not the corpus."""
    return (
        positional_ngram_rows(corpus, SPAN_N)
        .where(F.col("glen") == SPAN_N)
        .select("s")
        .distinct()
    )


def incremental_span_rows(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """The INCREMENTAL form of :func:`duplicated_span_rows` — the
    fifth modality of the batch-vs-corpus family (exact text, MinHash,
    embedding, Bloom membership, and now substring spans): maximal
    runs of tonight's batch tokens covered by a SPAN_N-gram that
    ALREADY APPEARS in the historical corpus. This is Lee et al. 2021
    span removal as a nightly job: the corpus is touched only through
    its distinct gram vocabulary — pass ``corpus_grams`` (the STORED
    :func:`substring_gram_index_rows` artifact, stored-vs-recomputed
    equality pytest-pinned, same contract as the MinHash / Bloom /
    embedding-index stored paths) to skip re-deriving it from
    ``corpus``; work is then ∝ batch grams + one probe join, no
    pairwise term and NO corpus-scan term. Intra-batch repeats
    deliberately do NOT flag (they are the full-corpus op's job when
    the batch is folded in).

    Same islands/merge tail as the full op; same (doc_id) partitioning
    reuse across the two window passes."""
    if (corpus is None) == (corpus_grams is None):
        raise ValueError("pass exactly one of corpus / corpus_grams")
    n = SPAN_N
    occ = positional_ngram_rows(batch, n).where(F.col("glen") == n)
    seen = (
        corpus_grams.select("s")
        if corpus_grams is not None
        else substring_gram_index_rows(corpus)
    )
    # LEFT SEMI, not inner: "does this gram exist in the vocabulary" —
    # duplicate-tolerant, so a serving-side UNION of per-batch index
    # partitions probes correctly without paying a distinct first
    starts = occ.join(seen, "s", "left_semi").select("doc_id", "q")
    return _spans_from_starts(starts, n)


def _spans_from_starts(starts: DataFrame, n: int) -> DataFrame:
    """Shared islands/merge tail of the incremental substring family:
    covered start positions → break flags → island ids → maximal
    spans. Both window passes reuse one (doc_id) partitioning."""
    w = W.partitionBy("doc_id").orderBy("q")
    flagged = starts.select(
        "doc_id",
        "q",
        F.when(F.col("q") - F.lag("q", 1).over(w) <= n, 0)
        .otherwise(1)
        .alias("brk"),
    )
    isl = flagged.select(
        "doc_id",
        "q",
        F.sum("brk")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("q").cast("long").alias("span_start"),
        (F.max("q") + F.lit(n) - 1).cast("long").alias("span_end"),
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )


def substring_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered ARTIFACT query: the corpus side's distinct full-gram
    vocabulary (the standing INCR_BATCH_MOD split) — the table a
    nightly ingest loads so :func:`incremental_span_rows` probes a
    stored index instead of re-gramming the corpus. Fully
    hash-attested: the positional n-gram derivation is mirrored
    literally in DuckDB."""
    docs = _docs(spark, sf_dir)
    return substring_gram_index_rows(
        docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    )


#: bucket count for the co-located serving base of every stored index
#: family; at 100 TB this scales with index bytes / target bucket size
#: (buckets are the unit both the compactor and the probe shuffle to)
GRAM_INDEX_BUCKETS = 32


class _IndexFamily(NamedTuple):
    """How one stored dedup index is served: ``rows`` turns its
    per-batch partition rows into serving rows (what the weekly base
    stores and what a delta tier probes), ``keys`` is the probe's join
    key — the base's bucket and sort columns — and ``distinct`` marks
    a set-valued base (the gram vocabulary: each partition is distinct
    but grams repeat across batches)."""

    rows: Callable[[DataFrame], DataFrame]
    keys: list[str]
    distinct: bool = False


#: serving family -> layout; the family name also keys the derived
#: serving table (:func:`_serving_table`). The MinHash base stores band
#: keys, not signatures, so it also amortizes the per-night band
#: derivation the signature-shaped index forces on a flat probe.
_INDEX_FAMILIES = {
    "grams": _IndexFamily(lambda df: df.select("s"), ["s"], distinct=True),
    "mhband": _IndexFamily(
        lambda df: minhash_band_keys(
            df.select("doc_id", *[f"mh{i}" for i in range(MINHASH_HASHES)])
        ),
        ["band_id", "band_hash"],
    ),
    "embband": _IndexFamily(
        lambda df: df.select("vec_id", "band", "bucket"), ["band", "bucket"]
    ),
}


def _batch_partition_dirs(
    spark: SparkSession, index_dir: str
) -> dict[str, str]:
    """{batch key: partition path} for every ``batch=<k>`` directory
    under a nightly index dir.

    Listed through sources/io.py's Hadoop FileSystem view (VERDICT
    r10 item 5), so the compaction loop's partition enumeration works
    against any configured filesystem (local, HDFS, object stores via
    their Hadoop connectors)."""
    import os

    from mpi_mapreduce_spark.sources.io import _list_dir

    return {
        name[len("batch="):]: os.path.join(index_dir, name)
        for name, is_dir, _ in sorted(_list_dir(spark, index_dir) or ())
        if is_dir and name.startswith("batch=")
    }


def _serving_table(index_dir: str, family: str) -> str:
    """Deterministic catalog name for the weekly serving base of the
    stored index at ``index_dir``: ``<family>_base_<sha256(abs path)
    [:12]>``. Derived, not configured, so the nightly cores and the
    weekly compactor agree on the table with no out-of-band state —
    and two state dirs in one session (the pytest reality, and a
    multi-tenant metastore at scale) can never collide."""
    import hashlib
    import os

    h = hashlib.sha256(
        os.path.abspath(index_dir).encode()
    ).hexdigest()[:12]
    return f"{family}_base_{h}"


def _fold_3step(
    spark: SparkSession,
    index_dir: str,
    family: str,
    keys: list[str],
    paths: list[str],
    path: str,
) -> int:
    """The crash-safe fold protocol of the weekly compaction: (1)
    INVALIDATE the fold ledger ``<table>_folded``, (2) overwrite the
    bucketed base from the partition dirs ``paths``, (3) record the
    folded batch ``keys`` LAST. Every intermediate state degrades
    serving to the flat probe — correct, merely corpus-shaped —
    because the probes are duplicate-tolerant and the per-batch
    partitions are never deleted, so the base is always re-derivable
    and the overwrite idempotent.

    Both tables are external: the base lives at ``path``, the ledger
    at ``<path>_folded``. Catalog METADATA is session-scoped here
    while the warehouse DIRECTORY is not, so a managed table left by
    a previous session blocks re-creation with LOCATION_ALREADY_EXISTS
    (found driving bench.py in a fresh session against
    rehearse-session state). Returns the number of folded keys."""
    from mpi_mapreduce_spark.sources.io import write_bucketed

    fam = _INDEX_FAMILIES[family]
    table = _serving_table(index_dir, family)

    def _write_ledger(folded: list[str]) -> None:
        spark.createDataFrame(
            [(k,) for k in folded], "batch_key string"
        ).write.mode("overwrite").option("path", f"{path}_folded").saveAsTable(
            f"{table}_folded"
        )

    _write_ledger([])
    base = fam.rows(spark.read.parquet(*paths))
    if fam.distinct:
        base = base.distinct()
    write_bucketed(
        base, table, GRAM_INDEX_BUCKETS, fam.keys, sort_cols=fam.keys,
        path=path,
    )
    _write_ledger(sorted(keys))
    return len(keys)


#: On-disk byte cap for the broadcast-delta serving tier. The
#: maybe_weekly compaction policy caps delta COUNT (7 nights), not
#: bytes (ADVICE r12 low) — at 100 TB a week of nightly band/gram
#: partitions can blow past Spark's 8 GB broadcast hard limit and the
#: driver's heap long before the count trips. 256 MB of parquet is
#: comfortably inside both even after columnar decompression, and a
#: delta tier bigger than that has stopped being "a few small frames"
#: anyway — the plain shuffle join it falls back to is the correct
#: shape for it.
DELTA_BROADCAST_MAX_BYTES = 256 << 20


def _delta_dirs_small(spark: SparkSession, delta_dirs: list[str]) -> bool:
    """True iff the delta partitions' summed on-disk footprint is
    under :data:`DELTA_BROADCAST_MAX_BYTES` (read at call time so
    tests can shrink it) — driver-side Hadoop FS metadata only, no
    job."""
    import os

    from mpi_mapreduce_spark.sources.io import _list_dir

    total = 0
    todo = list(delta_dirs)
    while todo:
        d = todo.pop()
        for name, is_dir, length in _list_dir(spark, d) or ():
            if is_dir:
                todo.append(os.path.join(d, name))
            total += length
        if total > DELTA_BROADCAST_MAX_BYTES:
            return False
    return True


def _fold_state(
    spark: SparkSession, index_dir: str, family: str
) -> tuple[set[str], dict[str, str]]:
    """(folded batch keys — empty when no VALID compaction exists,
    {key: path} of all current partitions) of the stored index at
    ``index_dir``."""
    table = _serving_table(index_dir, family)
    folded: set[str] = set()
    ledger_tbl = f"{table}_folded"
    if spark.catalog.tableExists(table) and spark.catalog.tableExists(
        ledger_tbl
    ):
        folded = {r.batch_key for r in spark.table(ledger_tbl).collect()}
    return folded, _batch_partition_dirs(spark, index_dir)


def _committed_partitions(
    spark: SparkSession, index_dir: str, ledger_dir: str
) -> tuple[list[str], list[str]]:
    """(sorted committed batch keys present under ``index_dir``,
    their partition paths) — the fold set every weekly compaction is
    allowed to touch (ADVICE r10): a partition whose key has no
    ledger commit is a crashed night's partial; folding it into the
    serving base would flag the replayed batch as a duplicate of
    itself, and ``reconcile_batch_partitions``'s later orphan drop
    cannot un-fold a base. Under a LEGACY ledger (NULL-key rows)
    committed partitions are indistinguishable from partials, so the
    fold set is EMPTY — serving stays flat: slower, never wrong."""
    from mpi_mapreduce_spark.sources.io import committed_batch_keys

    committed, legacy = committed_batch_keys(spark, ledger_dir)
    if legacy:
        return [], []
    parts = _batch_partition_dirs(spark, index_dir)
    keys = sorted(k for k in parts if k in committed)
    return keys, [parts[k] for k in keys]


def weekly_index_compaction(
    spark: SparkSession,
    index_dir: str,
    family: str,
    ledger_dir: str,
    path: str,
) -> int:
    """Fold every LEDGER-COMMITTED per-batch partition of the stored
    index at ``index_dir`` (``family`` one of :data:`_INDEX_FAMILIES`:
    ``grams``, ``mhband``, ``embband``) into its bucketed serving base
    (:func:`_serving_table`, files at ``path``) plus the fold ledger
    ``<table>_folded`` that tells :func:`_serving_tiers` which batch
    keys the base holds. The weekly job pays the index's shuffle once
    — hash-clustered and sorted on the family's join key — so every
    nightly probe of the base plans with NO Exchange on the index
    side (the SCALING.md round-9 recipe; pytest plan-asserted).

    ``ledger_dir`` is REQUIRED (ADVICE r10): partitions with no
    committed batch_key are crashed partials — folding one bakes it
    into the base, where the replayed batch would be flagged as a
    duplicate of itself and the orphan reconciliation that later
    deletes the partition cannot un-fold the base. With nothing
    committed (or a legacy NULL-key ledger) the compaction is a
    NO-OP returning 0 — the existing base, if any, stays valid.
    Crash-safe via :func:`_fold_3step`.

    100 TB note — incremental folds: this fold re-derives the base
    from ALL committed partitions, which is the simplest idempotent
    shape but re-reads Σ|partitions| weekly. The incremental form
    (distinct over current-base ∪ delta-partitions only — the base
    scan is co-located, so only delta bytes shuffle) needs an A/B
    generation flip for the base location because Spark refuses to
    overwrite a table its own plan reads; the fold ledger would carry
    the live generation. Worth building when Σ|partitions| ≫ |vocab|
    (heavy cross-batch gram repetition); at the measured 1M scale the
    full gram fold is 41 s weekly against a 51 s nightly saving, so
    the simple shape wins on risk.

    Returns the number of folded partitions."""
    keys, paths = _committed_partitions(spark, index_dir, ledger_dir)
    if not keys:
        return 0
    return _fold_3step(spark, index_dir, family, keys, paths, path)


def _serving_tiers(
    spark: SparkSession,
    index_dir: str,
    family: str,
    exclude: str | None = None,
) -> list[DataFrame]:
    """The serving ladder of every stored dedup index — the frames a
    nightly probe joins tonight's batch against, in the family's
    serving-row shape (:data:`_INDEX_FAMILIES`). The fold state is
    listed once; each probe joins the batch side against every
    returned tier and unions the results, which is exactly "key ∈
    base ∪ deltas" because the probes are duplicate-tolerant.

    - a VALID weekly compaction exists (base table + non-empty fold
      ledger, :func:`weekly_index_compaction`) → the bucketed BASE,
      read through the catalog so its scan reports the bucket
      HashPartitioning and only the batch side shuffles, plus one
      DELTA tier over the partitions that landed since — broadcast
      while their on-disk bytes stay under
      :data:`DELTA_BROADCAST_MAX_BYTES`, a plain shuffle join above;
    - no base yet, or a compaction that died between invalidating
      and rewriting its fold ledger (empty ledger) → the FLAT union of
      every partition: correct, merely corpus-shaped — a torn base is
      never read;
    - no committed partition at all (first night) → no tier.

    ``exclude`` is tonight's batch key: its partition is left out of
    every rung, or a crash replay would probe its own persisted rows
    and flag the whole batch as duplicates of itself. It is never in
    the base — compactions fold only ledger-committed keys and a
    replayed night is by definition uncommitted (ADVICE r10) — so an
    ``exclude`` that IS folded serves flat. ``None`` (the serving
    queries' case) adds no filter: ``batch != NULL`` is NULL and would
    drop every row.

    At 100 TB this removes the corpus-shaped term from every night
    (95.5 s of the 142.9 s 1M marginal night for the flat substring
    leg, SCALING.md round-10): the multi-TB base never moves, the
    deltas ride a broadcast, and the weekly compactor is the only job
    that ever shuffles the index."""
    from mpi_mapreduce_spark.sources.io import (
        has_committed_parquet,
        read_bucketed,
    )

    rows = _INDEX_FAMILIES[family].rows
    folded, parts = _fold_state(spark, index_dir, family)
    if folded and exclude not in folded:
        tiers = [read_bucketed(spark, _serving_table(index_dir, family))]
        delta_dirs = [
            p for k, p in parts.items() if k not in folded and k != exclude
        ]
        if delta_dirs:
            delta = rows(spark.read.parquet(*delta_dirs))
            if _delta_dirs_small(spark, delta_dirs):
                delta = F.broadcast(delta)
            tiers.append(delta)
        return tiers
    if has_committed_parquet(spark, index_dir):
        flat = spark.read.parquet(index_dir)
        if exclude is not None:
            flat = flat.where(F.col("batch") != F.lit(exclude))
        return [rows(flat)]
    return []


def _gram_cross_spans(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    exclude: str | None = None,
) -> DataFrame:
    """The substring probe: :func:`incremental_span_rows` of ``batch``
    against the stored gram vocabulary at ``index_dir``, one left
    semi join per serving tier (:func:`_serving_tiers`). With two
    tiers the batch's positional grams feed both joins, so they are
    localCheckpoint-materialized once instead of re-deriving the
    posexplode/window chain per tier (measured at 1M: 17.3 s vs
    31.6 s) and the covered starts are distinct'd (a start can hit
    both tiers)."""
    n = SPAN_N
    occ = positional_ngram_rows(batch, n).where(F.col("glen") == n)
    # first night: an empty vocabulary, nothing to flag
    tiers = _serving_tiers(spark, index_dir, "grams", exclude) or [
        batch.select(F.lit("").alias("s")).limit(0)
    ]
    if len(tiers) > 1:
        occ = occ.localCheckpoint()
    starts = reduce(
        DataFrame.unionByName,
        [
            occ.join(t.select("s"), "s", "left_semi").select("doc_id", "q")
            for t in tiers
        ],
    )
    if len(tiers) > 1:
        starts = starts.distinct()
    return _spans_from_starts(starts, n)


def _minhash_cross_candidates(
    spark: SparkSession,
    bands_b: DataFrame,
    index_dir: str,
    exclude: str | None = None,
) -> DataFrame | None:
    """The MinHash candidate probe: tonight's band keys ``bands_b``
    (doc_b, band_id, band_hash) equi-joined against every serving
    tier of the signature index at ``index_dir``
    (:func:`_serving_tiers`). Returns distinct (doc_b, doc_c) pairs,
    or None when no stored corpus exists yet. The
    signature-estimated Jaccard rescore stays the caller's job (it
    needs the mh columns, which only the signature partitions
    carry)."""
    tiers = _serving_tiers(spark, index_dir, "mhband", exclude)
    if not tiers:
        return None
    return reduce(
        DataFrame.unionByName,
        [
            bands_b.join(
                t.select(
                    F.col("doc_id").alias("doc_c"), "band_id", "band_hash"
                ),
                ["band_id", "band_hash"],
            ).select("doc_b", "doc_c")
            for t in tiers
        ],
    ).distinct()


def _embedding_cross_candidates(
    spark: SparkSession,
    bb: DataFrame,
    bands_dir: str,
    exclude: str | None = None,
) -> DataFrame | None:
    """The embedding candidate probe: tonight's band rows ``bb``
    (vec_a, band, bucket) equi-joined against every serving tier of
    the bucket index at ``bands_dir`` (:func:`_serving_tiers`).
    Returns distinct (vec_a, vec_b) pairs, or None when no stored
    bands exist yet. The exact cosine rescore stays the caller's job
    (it needs the vectors leg)."""
    tiers = _serving_tiers(spark, bands_dir, "embband", exclude)
    if not tiers:
        return None
    return reduce(
        DataFrame.unionByName,
        [
            bb.join(
                t.select(F.col("vec_id").alias("vec_b"), "band", "bucket"),
                ["band", "bucket"],
            ).select("vec_a", "vec_b")
            for t in tiers
        ],
    ).distinct()


def _serving_bench_state(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Idempotent stored-state builder behind the serving-shape
    headline pair (VERDICT r10 item 7): the standing incremental
    split's CORPUS gram vocabulary persisted as two batch partitions
    (``b1`` = doc_id%3 != 2, the weekly-folded share; ``b2`` = the
    rest, the post-compaction delta), ``b1`` folded into the bucketed
    base via the real three-step protocol. Returns (index_dir, base
    table name). Built ONCE per sf_dir under the system temp dir and
    content-checked on every construction (partitions committed, base
    + fold ledger present with exactly {b1}) — the registry's
    documented EAGER cache-lifecycle pattern, so bench's timed reps
    measure the SERVING probe, not the state build.

    Concurrency (VERDICT r11 item 4; ADVICE r12 low): the
    shared-by-design temp-dir state is keyed only by sf_dir, so two
    sessions (the driver's bench plus a stray pytest) can construct
    simultaneously. EVERYTHING that inspects or mutates the shared
    on-disk state — the files-ok probe, the metadata-only DDL
    adoption, and the build — runs under an exclusive ``flock`` on
    ``<index_dir>.lock``: a rebuild in overwrite mode deletes
    committed files first, so an unlocked files-ok/register rung can
    throw on vanished parquet or adopt a half-rewritten layout. The
    only pre-lock rung is the steady-state fast path (tables already
    in THIS session's catalog), wrapped defensively — if a concurrent
    rebuild yanks the files mid-check it falls through to the locked
    path, which re-checks in mutual exclusion. The lock is a local
    file lock, microseconds when uncontended. Sessions that READ via
    the serving probes are still not blocked; a reader overlapping a
    rebuild degrades to the flat probe per the three-step fold
    protocol (correct, merely corpus-shaped).

    Staleness (VERDICT r12 item 6): adoption trusts on-disk layout,
    so the build stamps a schema/content FINGERPRINT sidecar
    (:func:`_serving_fingerprint`) and :func:`_serving_state_files_ok`
    refuses state whose stamp doesn't match the running code —
    a schema-evolving round rebuilds instead of timing a stale
    shape (tests/test_dedup.py::test_serving_state_fingerprint_*)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.sha256(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:12]
    index_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_serving_{key}"
    )
    tbl = _serving_table(index_dir, "grams")

    try:
        if _serving_state_ok(spark, index_dir, tbl):
            return index_dir, tbl
    except Exception:
        # committed files vanished mid-check (concurrent rebuild in
        # overwrite mode) — the locked path below re-checks safely
        pass

    import fcntl

    lock_path = f"{index_dir}.lock"
    with open(lock_path, "w") as lock_fd:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        try:
            # the race loser lands here AFTER the winner committed:
            # re-check before (re)building over live shared state
            if _serving_state_ok(spark, index_dir, tbl):
                return index_dir, tbl
            # middle rung (now inside the lock — ADVICE r12 low): the
            # on-disk state is complete but THIS session's catalog has
            # no tables yet (a fresh bench session over state the
            # disposable build subprocess left). Register the existing
            # files via metadata-only DDL instead of re-running the
            # build: the build's heavy jobs measurably degrade every
            # later query in the session (~10%, r12 paired A/B).
            if _serving_state_files_ok(spark, index_dir):
                _register_serving_tables(spark, index_dir, tbl)
                if _serving_state_ok(spark, index_dir, tbl):
                    return index_dir, tbl
            docs = _docs(spark, sf_dir)
            corpus = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
            substring_gram_index_rows(
                corpus.where(F.col("doc_id") % 3 != 2)
            ).write.mode("overwrite").parquet(
                os.path.join(index_dir, "batch=b1")
            )
            substring_gram_index_rows(
                corpus.where(F.col("doc_id") % 3 == 2)
            ).write.mode("overwrite").parquet(
                os.path.join(index_dir, "batch=b2")
            )
            _fold_3step(
                spark,
                index_dir,
                "grams",
                ["b1"],
                [os.path.join(index_dir, "batch=b1")],
                os.path.join(index_dir, "_base"),
            )
            _write_serving_fingerprint(index_dir)
        finally:
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
    return index_dir, tbl


def _serving_fingerprint() -> str:
    """Hash of every layout fact the metadata-only DDL adoption
    TRUSTS about on-disk serving state: the state version, the bucket
    spec the external-table DDL re-declares, the gram length behind
    the stored vocabulary, and both table schemas. Code whose
    fingerprint differs must not adopt the files — it would time (or
    serve) the wrong shape."""
    import hashlib

    spec = "|".join(
        [
            f"version={SERVING_STATE_VERSION}",
            f"buckets={GRAM_INDEX_BUCKETS}",
            f"span_n={SPAN_N}",
            "base=s:string;clustered_sorted_by=s",
            "ledger=batch_key:string",
            "batch=s:string",
        ]
    )
    return hashlib.sha256(spec.encode()).hexdigest()


#: bump when the serving-state layout changes shape in a way the spec
#: string can't capture (e.g. a new sidecar, a renamed partition dir)
SERVING_STATE_VERSION = 1


def _write_serving_fingerprint(index_dir: str) -> None:
    """Stamp the layout fingerprint LAST, after the fold protocol
    committed — an unstamped directory is treated as stale and
    rebuilt, which is the safe failure mode."""
    import json
    import os

    with open(os.path.join(index_dir, "_fingerprint.json"), "w") as f:
        json.dump({"fingerprint": _serving_fingerprint()}, f)


def _serving_fingerprint_ok(index_dir: str) -> bool:
    """True iff the sidecar exists and matches the RUNNING code's
    fingerprint (missing / unreadable / mismatched all mean rebuild)."""
    import json
    import os

    try:
        with open(os.path.join(index_dir, "_fingerprint.json")) as f:
            return json.load(f).get("fingerprint") == _serving_fingerprint()
    except (OSError, ValueError):
        return False


def _serving_state_files_ok(spark: SparkSession, index_dir: str) -> bool:
    """True iff the ON-DISK half of the serving state is complete AND
    current: both batch partitions, the bucketed base files, a fold
    ledger whose parquet content is exactly {b1}, and a fingerprint
    sidecar matching the running code (VERDICT r12 item 6) — i.e.
    everything a session needs in order to REGISTER the tables
    without rebuilding. Caller must hold the build flock: a rebuild
    deletes committed files before rewriting them."""
    import os

    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    if not _serving_fingerprint_ok(index_dir):
        return False
    if not all(
        has_committed_parquet(spark, os.path.join(index_dir, sub))
        for sub in ("batch=b1", "batch=b2", "_base", "_base_folded")
    ):
        return False
    ledger = spark.read.parquet(os.path.join(index_dir, "_base_folded"))
    return {r.batch_key for r in ledger.collect()} == {"b1"}


def _register_serving_tables(
    spark: SparkSession, index_dir: str, tbl: str
) -> None:
    """Metadata-only registration of complete on-disk serving state:
    external-table DDL over the bucketed base (same bucket spec the
    builder's ``write_bucketed`` declared) and the fold ledger. No
    data job runs — the point is that a fresh bench session can adopt
    the state without paying (or carrying the session-wide cost of)
    the build."""
    import os

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"""
        CREATE TABLE {tbl} (s STRING) USING PARQUET
        CLUSTERED BY (s) SORTED BY (s) INTO {GRAM_INDEX_BUCKETS} BUCKETS
        LOCATION '{os.path.join(index_dir, "_base")}'
        """
    )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_folded")
    spark.sql(
        f"""
        CREATE TABLE {tbl}_folded (batch_key STRING) USING PARQUET
        LOCATION '{os.path.join(index_dir, "_base_folded")}'
        """
    )


def _serving_state_ok(
    spark: SparkSession, index_dir: str, tbl: str
) -> bool:
    """The serving-state content check (see _serving_bench_state):
    both batch partitions committed, base + fold ledger registered in
    THIS session's catalog, ledger holding exactly the folded key."""
    import os

    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    ledger_tbl = f"{tbl}_folded"
    return (
        has_committed_parquet(spark, os.path.join(index_dir, "batch=b1"))
        and has_committed_parquet(spark, os.path.join(index_dir, "batch=b2"))
        and spark.catalog.tableExists(tbl)
        and spark.catalog.tableExists(ledger_tbl)
        and {r.batch_key for r in spark.table(ledger_tbl).collect()}
        == {"b1"}
    )


def substring_serving_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline FLAT serving shape: the incremental substring probe
    reading the whole stored two-partition vocabulary and re-shuffling
    it into the semi join — the corpus-shaped nightly term the weekly
    compaction exists to remove (95.5 s of the 142.9 s 1M marginal
    night, SCALING.md round-10). Paired with
    :func:`substring_serving_tiered` over IDENTICAL stored state so
    the serving delta is gated by the bench budget machinery, not
    only measured in SCALING.md. Results equal
    :func:`dedup_incremental_substring` (same vocabulary, different
    physical path) — full DuckDB hash oracle."""
    index_dir, _ = _serving_bench_state(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    return incremental_span_rows(
        batch, corpus_grams=spark.read.parquet(index_dir).select("s")
    )


def substring_serving_tiered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Headline PRODUCTION serving shape: the same probe as
    :func:`substring_serving_flat` over the same stored state, served
    through the serving ladder (:func:`_gram_cross_spans`) — fold
    ledger consulted, b1 entering via the bucketed co-located base (no
    Exchange on the index side), b2 riding the broadcast delta tier.
    Identical results, different physical plan: the bench pair IS the
    serving win, budget-gated."""
    index_dir, _ = _serving_bench_state(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    return _gram_cross_spans(spark, batch, index_dir)


def dedup_incremental_substring(
    spark: SparkSession, sf_dir: str, corpus_grams: DataFrame | None = None
) -> DataFrame:
    """Registered incremental-substring query over the standing
    INCR_BATCH_MOD split. Pass ``corpus_grams`` to serve from the
    STORED :func:`substring_gram_index` artifact instead of
    rebuilding (stored-vs-recomputed equality pytest-pinned, same
    contract as the Bloom / MinHash / embedding-index stored paths)."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    if corpus_grams is not None:
        return incremental_span_rows(batch, corpus_grams=corpus_grams)
    return incremental_span_rows(
        batch, docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    )


def strip_incremental_spans(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """The production tail of the incremental substring modality:
    detect tonight's corpus-covered spans (:func:`incremental_span_
    rows`) and STRIP them from the batch — per doc, ``n_tokens`` /
    ``n_removed`` / ``clean_text`` with covered token positions
    removed, exactly :func:`strip_duplicated_spans`'s contract
    restricted to the batch-vs-corpus setting (what a nightly ingest
    actually writes downstream: the batch with previously-seen
    passages excised, Lee et al. 2021 as a pipeline stage rather than
    a report). Same anti-join + per-doc rebuild plan as the full op —
    all stages shuffle on the batch's doc_id, no pairwise term; the
    corpus enters only through the gram vocabulary (pass
    ``corpus_grams`` to serve from the stored artifact)."""
    spans = incremental_span_rows(batch, corpus, corpus_grams)
    covered = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("p"),
    )
    tokpos = token_rows(batch)
    kept = tokpos.join(covered, ["doc_id", "p"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    ntok = tokpos.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return ntok.join(clean, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def dedup_incremental_strip(
    spark: SparkSession, sf_dir: str, corpus_grams: DataFrame | None = None
) -> DataFrame:
    """Registered incremental strip over the standing INCR_BATCH_MOD
    split. Pass ``corpus_grams`` to serve from the STORED
    substring_gram_index artifact (stored-vs-recomputed pytest-pinned
    like the detect query)."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    if corpus_grams is not None:
        return strip_incremental_spans(batch, corpus_grams=corpus_grams)
    return strip_incremental_spans(
        batch, docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    )


def _nightly_substring_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The SUBSTRING-SPAN leg of :func:`~mpi_mapreduce_spark.
    operators.nightly.nightly_curation_update` (ledger, batch key and
    crash replay are the composite's): compute each doc's maximal
    corpus-covered spans against the stored gram vocabulary
    (:func:`_gram_cross_spans`: two-tier through the weekly fold
    ledger when a valid compaction exists, flat otherwise — VERDICT
    r10 item 1; never a corpus re-gram); append tonight's distinct
    grams under ``batch=<bkey>``.

    The per-batch partitions are each distinct WITHIN the batch but
    may repeat grams ACROSS batches — the serving probe is a semi
    join, so cross-batch repeats are harmless (duplicate-tolerant by
    construction, pinned by the two-night pytest scenario), and the
    append stays batch-proportional: no read-merge-rewrite of the
    accumulated vocabulary, the exact property that makes this leg
    viable nightly at 100 TB. The serving union EXCLUDES tonight's own
    partition — without that, every replayed doc would probe its own
    persisted grams and flag itself end-to-end as one giant span.

    Returns eager spans — doc_id, span_start, span_end, span_tokens;
    empty when nothing in the batch is corpus-covered."""
    import os

    spans = _gram_cross_spans(spark, batch, index_dir, exclude=bkey)
    spans = spans.localCheckpoint()
    substring_gram_index_rows(batch).write.mode("overwrite").parquet(
        os.path.join(index_dir, f"batch={bkey}")
    )
    return spans


def gram_index_integrity(spark: SparkSession, index_dir: str) -> DataFrame:
    """DQ audit over a persisted substring gram index (the per-batch
    partitions the nightly substring leg appends) — the stored-index
    analog of :func:`embedding_index_integrity`, because at 100 TB
    the vocabulary IS a production table that rots like any other:

    one row of violation counters —
    - ``n_rows``: total gram rows across all batch partitions;
    - ``n_null_or_empty``: NULL or empty gram strings (a writer bug —
      the builder derives grams from non-empty tokens only);
    - ``n_wrong_arity``: grams whose whitespace token count != SPAN_N
      (the index stores FULL n-grams only; a short gram means a filter
      regression upstream and silently over-matches short batch
      docs);
    - ``n_dup_within_batch``: repeated grams INSIDE one batch
      partition (each partition is distinct-by-construction; serving
      tolerates cross-batch repeats by semi join, but intra-batch
      repeats mean the builder's distinct was lost and the partition
      is bloated).

    A clean index reads (n, 0, 0, 0). Grouped counts and one window
    over (batch, s) — linear, no pairwise term."""
    rows = spark.read.parquet(index_dir).select("batch", "s")
    arity = F.size(F.split(F.col("s"), r"\s+"))
    # coalesce: F.sum over an EMPTY index is NULL, and empty partitions
    # are reachable (a first night whose docs are all shorter than n
    # writes zero gram rows) — an audit must report 0, not crash its
    # caller's int() (ADVICE r9)
    per = rows.select(
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("s").isNull() | (F.col("s") == ""), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_null_or_empty"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("s").isNotNull()
                    & (F.col("s") != "")
                    & (arity != SPAN_N),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_wrong_arity"),
    )
    dups = (
        rows.groupBy("batch", "s")
        .agg(F.count("*").alias("c"))
        .select(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias(
                "n_dup_within_batch"
            )
        )
    )
    # both sides are one-row global aggregates; hint it so the plan
    # audit can tell intent from accident
    return per.crossJoin(F.broadcast(dups))


def bloom_filter_integrity(spark: SparkSession, index_dir: str) -> DataFrame:
    """DQ audit over a persisted Bloom filter table (the per-batch
    partitions the nightly Bloom leg appends): one row of violation
    counters —
    - ``n_word_rows``: total packed-word rows;
    - ``n_out_of_range``: word ids outside [0, m/32) — an index
      written under a DIFFERENT m than the probe uses would silently
      never match those words (the screen's left join treats absent
      words as zero bits, so a geometry mismatch reads as inflated
      novelty, not an error);
    - ``n_sign_violations``: words whose packed bits have bit 63 set
      or are negative — the 32-bit packing keeps every stored word in
      [1, 2^32), so a violation means corruption or a foreign writer;
    - ``n_zero_rows``: words with bits == 0 (harmless to serving but
      pure bloat — the build never emits them).

    A clean index reads (n, 0, 0, 0). One grouped pass, linear."""
    rows = spark.read.parquet(index_dir).select("word", "bits")
    n_words = BLOOM_BITS // BLOOM_WORD_BITS
    # coalesce: F.sum over an EMPTY table is NULL; a zero-row Bloom
    # partition (empty docs file night) must audit as 0s (ADVICE r9)
    return rows.select(
        F.count("*").alias("n_word_rows"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("word") < 0) | (F.col("word") >= n_words), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_out_of_range"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("bits") < 0)
                    | (F.col("bits") >= F.lit(1 << BLOOM_WORD_BITS)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_sign_violations"),
        F.coalesce(
            F.sum(F.when(F.col("bits") == 0, 1).otherwise(0)), F.lit(0)
        ).alias("n_zero_rows"),
    )


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`duplicated_span_rows` over documents."""
    return duplicated_span_rows(_docs(spark, sf_dir))


def dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`substring_dup_stats` over documents."""
    return substring_dup_stats(_docs(spark, sf_dir))


def dedup_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`strip_duplicated_spans` over documents."""
    return strip_duplicated_spans(_docs(spark, sf_dir))


#: shared CTE chain for both substring queries: full n-grams with
#: start positions → df ≥ 2 vocabulary → covered starts → islands →
#: maximal spans. Mirrors duplicated_span_rows stage for stage.
_SUBSTRING_SPANS_CTE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(len(tok) - {SPAN_N - 1}),
                    i -> {{'q': i, 's': {_ngram_concat_sql(SPAN_N)}}}),
                    recursive := true)
      FROM toks WHERE len(tok) >= {SPAN_N}
    ), dup AS (
      SELECT s FROM (
        SELECT s, count(DISTINCT doc_id) AS df FROM grams GROUP BY s
      ) WHERE df >= 2
    ), starts AS (
      SELECT doc_id, q FROM grams JOIN dup USING (s)
    ), flagged AS (
      SELECT doc_id, q,
             CASE WHEN q - lag(q) OVER (PARTITION BY doc_id ORDER BY q)
                       <= {SPAN_N}
                  THEN 0 ELSE 1 END AS brk
      FROM starts
    ), isl AS (
      SELECT doc_id, q,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY q
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), spans AS (
      SELECT doc_id,
             CAST(MIN(q) AS BIGINT) AS span_start,
             CAST(MAX(q) + {SPAN_N - 1} AS BIGINT) AS span_end
      FROM isl GROUP BY doc_id, island
    )
"""

ORACLE_SUBSTRING_GRAM_INDEX = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(len(tok) - {SPAN_N - 1}),
                    i -> {{'q': i, 's': {_ngram_concat_sql(SPAN_N)}}}),
                    recursive := true)
      FROM toks WHERE len(tok) >= {SPAN_N}
    )
    SELECT DISTINCT s FROM grams
"""

ORACLE_INCREMENTAL_SUBSTRING = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(len(tok) - {SPAN_N - 1}),
                    i -> {{'q': i, 's': {_ngram_concat_sql(SPAN_N)}}}),
                    recursive := true)
      FROM toks WHERE len(tok) >= {SPAN_N}
    ), seen AS (
      SELECT DISTINCT s FROM grams WHERE doc_id % {INCR_BATCH_MOD} <> 0
    ), starts AS (
      SELECT doc_id, q FROM grams JOIN seen USING (s)
      WHERE doc_id % {INCR_BATCH_MOD} = 0
    ), flagged AS (
      SELECT doc_id, q,
             CASE WHEN q - lag(q) OVER (PARTITION BY doc_id ORDER BY q)
                       <= {SPAN_N}
                  THEN 0 ELSE 1 END AS brk
      FROM starts
    ), isl AS (
      SELECT doc_id, q,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY q
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), spans AS (
      SELECT doc_id,
             CAST(MIN(q) AS BIGINT) AS span_start,
             CAST(MAX(q) + {SPAN_N - 1} AS BIGINT) AS span_end
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM spans
"""


ORACLE_INCREMENTAL_STRIP = ORACLE_INCREMENTAL_SUBSTRING.replace(
    # reuse the incremental spans chain verbatim, swapping its final
    # SELECT for the strip tail (the same rebuild the full-corpus
    # ORACLE_SUBSTRING_STRIP runs, restricted to batch docs)
    """
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM spans
""",
    f"""
    , tokpos AS (
      SELECT doc_id, unnest(range(len(tok))) AS p, unnest(tok) AS t
      FROM toks WHERE len(tok) > 0 AND doc_id % {INCR_BATCH_MOD} = 0
    ), covered AS (
      SELECT doc_id, unnest(range(span_start, span_end + 1)) AS p
      FROM spans
    ), kept AS (
      SELECT t.doc_id, t.p, t.t
      FROM tokpos t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.p = c.p
      WHERE c.doc_id IS NULL
    ), clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    ), ntok AS (
      SELECT doc_id, len(tok) AS n_tokens FROM toks
      WHERE len(tok) > 0 AND doc_id % {INCR_BATCH_MOD} = 0
    )
    SELECT n.doc_id, n.n_tokens,
           n.n_tokens - COALESCE(c.n_kept, 0) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM ntok n LEFT JOIN clean c USING (doc_id)
""",
)
if ORACLE_INCREMENTAL_STRIP == ORACLE_INCREMENTAL_SUBSTRING:
    raise AssertionError("incremental strip oracle: tail swap not applied")


ORACLE_SUBSTRING_SPANS = _SUBSTRING_SPANS_CTE + """
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM spans
"""

ORACLE_SUBSTRING_STRIP = _SUBSTRING_SPANS_CTE + """
    , tokpos AS (
      SELECT doc_id, unnest(range(len(tok))) AS p, unnest(tok) AS t
      FROM toks WHERE len(tok) > 0
    ), covered AS (
      SELECT doc_id, unnest(range(span_start, span_end + 1)) AS p
      FROM spans
    ), kept AS (
      SELECT t.doc_id, t.p, t.t
      FROM tokpos t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.p = c.p
      WHERE c.doc_id IS NULL
    ), clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    ), ntok AS (
      SELECT doc_id, len(tok) AS n_tokens FROM toks WHERE len(tok) > 0
    )
    SELECT n.doc_id, n.n_tokens,
           n.n_tokens - COALESCE(c.n_kept, 0) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM ntok n LEFT JOIN clean c USING (doc_id)
"""

ORACLE_SUBSTRING_STATS = _SUBSTRING_SPANS_CTE + """
    , per AS (
      SELECT doc_id,
             SUM(span_end - span_start + 1) AS dup_tokens,
             count(*) AS n_spans
      FROM spans GROUP BY doc_id
    ), ntok AS (
      SELECT doc_id, len(tok) AS n_tokens FROM toks WHERE len(tok) > 0
    )
    SELECT n.doc_id, n.n_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           ROUND((CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / n.n_tokens)
                 * 1000000.0) / 1000000.0 AS dup_frac
    FROM ntok n LEFT JOIN per p USING (doc_id)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_exact_stats": dedup_exact_stats,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_jaccard_capped": dedup_ngram_jaccard_capped,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_validate": dedup_minhash_lsh_validate,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_validate": dedup_simhash_validate,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_embedding_lsh_validate": dedup_embedding_lsh_validate,
    "dedup_embedding_auto": dedup_embedding_auto,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_incremental_minhash_validate": dedup_incremental_minhash_validate,
    "dedup_incremental_embedding": dedup_incremental_embedding,
    "dedup_incremental_embedding_validate": dedup_incremental_embedding_validate,
    "dedup_bloom_filter_table": dedup_bloom_filter_table,
    "dedup_incremental_bloom": dedup_incremental_bloom,
    "dedup_novelty_score": dedup_novelty_score,
    "dedup_novelty_bloom": dedup_novelty_bloom,
    "dedup_incremental_screened": dedup_incremental_screened,
    "dedup_incremental_substring": dedup_incremental_substring,
    "dedup_incremental_strip": dedup_incremental_strip,
    "substring_gram_index": substring_gram_index,
    "substring_serving_flat": substring_serving_flat,
    "substring_serving_tiered": substring_serving_tiered,
    "embedding_bucket_index": embedding_bucket_index,
    "dedup_connected_components": dedup_connected_components,
    "dedup_repeated_ngrams": dedup_repeated_ngrams,
    "dedup_canonical_corpus": dedup_canonical_corpus,
    "dedup_containment": dedup_containment,
    "dedup_containment_capped": dedup_containment_capped,
    "pipeline_canonical_containment": pipeline_canonical_containment,
    "pipeline_canonical_minhash": pipeline_canonical_minhash,
    "pipeline_canonical_minhash_validate": pipeline_canonical_minhash_validate,
    "dedup_semantic": dedup_semantic,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_substring_stats": dedup_substring_stats,
    "dedup_substring_strip": dedup_substring_strip,
}

ORACLE = {
    "dedup_exact": """
        SELECT doc_id,
               (ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id)) > 1 AS is_dup
        FROM documents
    """,
    "dedup_exact_stats": """
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT text) AS n_unique,
               COUNT(*) - COUNT(DISTINCT text) AS n_dups
        FROM documents
    """,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_ngram_jaccard_capped": ORACLE_NGRAM_JACCARD_CAPPED,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    # the probe picks the exact path on this fixture (see the
    # dedup_embedding_auto docstring), so the exact oracle applies
    "dedup_embedding_auto": ORACLE_DEDUP_EMBEDDING,
    "dedup_embedding_lsh_validate": ORACLE_DEDUP_EMBEDDING_LSH_VALIDATE,
    "dedup_minhash_lsh_validate": ORACLE_MINHASH_LSH_VALIDATE,
    "dedup_simhash_validate": ORACLE_SIMHASH_VALIDATE,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dedup_incremental_minhash_validate": ORACLE_INCREMENTAL_MINHASH_VALIDATE,
    # dedup_incremental_embedding: rows-only (sign-hyperplane buckets
    # aren't SQL); its found-iff-cobucketed invariant is hash-attested
    # via the twin below
    "dedup_incremental_embedding_validate": (
        ORACLE_INCREMENTAL_EMBEDDING_VALIDATE
    ),
    "dedup_bloom_filter_table": ORACLE_BLOOM_FILTER_TABLE,
    "dedup_incremental_bloom": ORACLE_INCREMENTAL_BLOOM,
    "dedup_novelty_score": ORACLE_NOVELTY_SCORE,
    "dedup_novelty_bloom": ORACLE_NOVELTY_BLOOM,
    # the screened pipeline's contract IS the unscreened semantics
    # (Bloom no-false-negative theorem) — same oracle by design
    "dedup_incremental_screened": ORACLE_DEDUP_INCREMENTAL,
    "dedup_incremental_substring": ORACLE_INCREMENTAL_SUBSTRING,
    # the serving pair probes the SAME vocabulary through different
    # physical paths; spans are shape-identical to the incremental
    # substring query, so both share its closed-form oracle
    "substring_serving_flat": ORACLE_INCREMENTAL_SUBSTRING,
    "substring_serving_tiered": ORACLE_INCREMENTAL_SUBSTRING,
    "dedup_incremental_strip": ORACLE_INCREMENTAL_STRIP,
    "substring_gram_index": ORACLE_SUBSTRING_GRAM_INDEX,
    "embedding_bucket_index": ORACLE_EMBEDDING_BUCKET_INDEX,
    "dedup_connected_components": ORACLE_CONNECTED_COMPONENTS,
    "dedup_repeated_ngrams": ORACLE_REPEATED_NGRAMS,
    "dedup_canonical_corpus": ORACLE_CANONICAL_CORPUS,
    "dedup_containment": ORACLE_CONTAINMENT,
    "dedup_containment_capped": ORACLE_CONTAINMENT_CAPPED,
    "pipeline_canonical_containment": ORACLE_PIPELINE_CANONICAL_CONTAINMENT,
    # pipeline_canonical_minhash itself: rows-only (LSH buckets aren't
    # SQL); its composed exact side is hash-attested via the twin below
    "pipeline_canonical_minhash_validate": (
        ORACLE_PIPELINE_CANONICAL_MINHASH_VALIDATE
    ),
    "dedup_semantic": _oracle_dedup_semantic(),
    "dedup_substring_spans": ORACLE_SUBSTRING_SPANS,
    "dedup_substring_stats": ORACLE_SUBSTRING_STATS,
    "dedup_substring_strip": ORACLE_SUBSTRING_STRIP,
    # dedup_minhash_lsh, dedup_simhash, dedup_incremental_minhash:
    # rows-only (xxhash64 signatures aren't expressible in the
    # oracle); recall pinned in tests, and each path's invariant is
    # driver-attested via its *_validate twin above.
    # dedup_embedding_lsh: rows-only by contract (approximate recall
    # near the threshold); precision/recall pinned vs dedup_embedding
    # in tests/test_dedup.py, and the found-iff-cobucketed invariant
    # is driver-attested via dedup_embedding_lsh_validate above.
}
