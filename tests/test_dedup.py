"""Dedup semantics + the recall contracts for the approximate paths
(these replace the oracle for rows-only ops: MinHash-LSH and SimHash
must find what the exact blocked-Jaccard op finds)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mpi_mapreduce_spark.operators import dedup as D
from tests.conftest import nightly_leg


def _commit_keys(spark, tmp_path, ledger: str, *keys: str) -> None:
    """Record one committed ledger row per batch key (the weekly
    compactions fold COMMITTED partitions only — ADVICE r10); the
    ledger's unit is files, so each key commits one dummy file."""
    import os

    from mpi_mapreduce_spark.sources.io import record_ingested

    d = tmp_path / "ledger_files"
    os.makedirs(d, exist_ok=True)
    for k in keys:
        f = d / f"{k}.src"
        f.write_bytes(b"x")
        record_ingested(spark, ledger, [str(f)], batch_key=k)


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    exact = _pairs(D.dedup_ngram_jaccard(spark, sf_dir))
    lsh = _pairs(D.dedup_minhash_lsh(spark, sf_dir))
    # verify step removes false positives entirely...
    assert lsh <= exact or not exact
    # ...and banded-LSH recall at j>=0.5 with 16x2 bands should be ~99%
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} pairs"


def test_exact_dedup_flags_later_copies(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique")],
        "doc_id long, text string",
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("text").orderBy("doc_id")
    flags = {
        r.doc_id: r.is_dup
        for r in df.select(
            "doc_id", (F.row_number().over(w) > 1).alias("is_dup")
        ).collect()
    }
    assert flags == {1: False, 2: True, 3: False}


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here entirely")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in D.simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_embedding_neardup_symmetric_clean(spark, sf_dir):
    pairs = D.dedup_embedding(spark, sf_dir).collect()
    for r in pairs:
        assert r.vec_a < r.vec_b
        assert r.cosine >= D.EMBED_DUP_THRESHOLD


def test_embedding_blocked_covers_every_pair_once(spark):
    """The block-partitioned exact all-pairs must score each unordered
    pair exactly once (cell dedup when bi==bj, no double emission when
    a pair spans two blocks). Tiny planted fixture where every pair
    passes: expect all C(n,2) pairs, each once."""
    import os
    import tempfile

    n = 13  # > EMBED_BLOCKS so some blocks hold 2+ rows
    rows = [(i, [1.0 + 0.001 * i] * 8) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with tempfile.TemporaryDirectory() as td:
        emb.write.parquet(os.path.join(td, "embeddings.parquet"))
        pairs = D.dedup_embedding(spark, td).collect()
    got = sorted((r.vec_a, r.vec_b) for r in pairs)
    want = [(a, b) for a in range(n) for b in range(a + 1, n)]
    assert got == want, "each unordered pair exactly once"


def test_embedding_plan_has_no_cross_product(spark, sf_dir):
    """The round-1 implementation collected the corpus to the driver
    and planned an O(n²) broadcast nested-loop theta-join. The block-
    partitioned rewrite must plan as fan-out join + grouped scoring:
    no BroadcastNestedLoopJoin, no CartesianProduct, anywhere."""
    plan = (
        D.dedup_embedding(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the cell-scoring stage


def test_embedding_lsh_precision_and_recall(spark, sf_dir):
    """LSH scale path: precision 1.0 by construction (exact rescore —
    every emitted pair must appear in the exact result with identical
    cosine), recall ≥ 0.9 at the registered banding on fixture data."""
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in D.dedup_embedding(spark, sf_dir).collect()
    }
    approx = {
        (r.vec_a, r.vec_b): r.cosine
        for r in D.dedup_embedding_lsh(spark, sf_dir).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]
    if exact:
        assert len(approx) / len(exact) >= 0.9


def test_incremental_dedup_flags_planted_batch(spark):
    """Batch docs dedup against the corpus ONLY: an exact copy and a
    near-copy are dropped, a fresh doc is kept, and duplicates WITHIN
    the corpus never flag anything (they were the prior ingest's
    problem). Exact-dup must imply near-dup (identical shingles)."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today", 49),
            (2, "the quick brown fox jumps over the lazy dog today", 49),
            (3, "completely unrelated corpus text about spark engines", 52),
        ],
        "doc_id long, text string, n_chars long",
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 1
            (10, "the quick brown fox jumps over the lazy dog today", 49),
            # near-copy: one word changed out of 10 → jaccard ~0.6
            (20, "the quick brown fox jumps over the lazy dog tonight", 51),
            # fresh
            (30, "entirely new material never seen in any prior snapshot", 54),
        ],
        "doc_id long, text string, n_chars long",
    )
    got = {
        r.doc_id: (r.is_exact_dup, r.is_near_dup, r.keep)
        for r in D.dedup_against_corpus(batch, corpus).collect()
    }
    assert got[10] == (True, True, False)
    assert got[20] == (False, True, False)
    assert got[30] == (False, False, True)
    for _, (e, n, _k) in got.items():
        assert (not e) or n, "exact-dup must imply near-dup"


def test_incremental_plans_are_equi_join_only(spark, sf_dir):
    """Both incremental paths must plan as hash/sort-merge equi-joins
    on compact keys — never a cross product or nested-loop theta-join
    (the shapes that stop scaling first)."""
    for fn in (D.dedup_incremental, D.dedup_incremental_minhash):
        plan = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_incremental_minhash_matches_exact_incremental(spark, sf_dir):
    """The index-backed incremental path must agree with the exact
    shingle-join path modulo LSH recall: every near-dup it flags is a
    true near-dup (precision 1.0 — the verify stage recomputes true
    Jaccard), and recall vs the exact op is ≥ 0.95 at the registered
    banding on fixture data. NOTE the exact op also length-band-blocks
    (±1 band), so LSH can legitimately flag cross-band true pairs the
    exact op's blocking misses — compare on the near-dup SET the exact
    op can see."""
    exact = {
        r.doc_id
        for r in D.dedup_incremental(spark, sf_dir).collect()
        if r.is_near_dup
    }
    approx = {
        r.doc_id
        for r in D.dedup_incremental_minhash(spark, sf_dir).collect()
        if r.is_near_dup
    }
    if exact:
        assert len(exact & approx) / len(exact) >= 0.95


def test_connected_components_chain_and_islands(spark):
    """Multi-hop propagation: a 5-vertex chain (diameter 4) must fully
    collapse to its min id; disjoint islands must not merge."""
    from mpi_mapreduce_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def _cc_labels(edges) -> dict:
    return {r.doc_id: r.comp for r in D.connected_components(edges).collect()}


def test_connected_components_long_path_converges(spark, monkeypatch):
    """The distributed loop runs until no label changes: a 40-vertex
    path needs about 40 rounds of min-label propagation, and every
    vertex must end on the path's minimum id (ids shuffled along the
    path, so the minimum sits in the middle)."""
    import random

    ids = list(range(100, 140))
    random.Random(7).shuffle(ids)
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_a long, doc_b long"
    )
    monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", 0)
    assert _cc_labels(edges) == dict.fromkeys(ids, 100)


def test_connected_components_driver_matches_distributed(
    spark, sf_dir, monkeypatch
):
    """The driver union-find and the distributed loop give the same
    labels, on the fixture's pair graph and on the chain/islands
    graph (and on no edges at all). The driver path's labels come back
    as a local relation: no Python worker runs for them."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    fixture = D.dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    for edges in (empty, chain, fixture):
        driver = _cc_labels(edges)
        plan = D.connected_components(
            edges
        )._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        with monkeypatch.context() as m:
            m.setattr(D, "CC_DRIVER_MAX_EDGES", 0)
            distributed = _cc_labels(edges)
        assert driver == distributed
    assert len(driver) > 2  # the fixture graph is not trivial


def test_connected_components_gate_at_budget(spark, monkeypatch):
    """The gate is the observed edge count: a graph of exactly the
    budget resolves in the driver, one edge more runs the distributed
    loop, and both give the same labels."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    calls = []
    union_find = D._union_find_min_labels
    monkeypatch.setattr(
        D,
        "_union_find_min_labels",
        lambda pairs: calls.append(len(pairs)) or union_find(pairs),
    )
    monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", 7)
    at_budget = _cc_labels(edges)
    assert calls == [7]
    monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", 6)
    over_budget = _cc_labels(edges)
    assert calls == [7]  # the driver path was not taken
    assert at_budget == over_budget


def test_hot_shingle_cap_kills_quadratic_bucket_keeps_neardups(spark):
    """The max_shingle_df guard: docs related ONLY through a corpus-wide
    hot shingle must stop pairing, while true near-dups (sharing many
    distinctive shingles) must survive with Jaccard over the filtered
    vocabulary."""
    from mpi_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    hot = "the quick brown"  # one 3-gram every doc will share
    rows = []
    # 20 unrelated docs whose ONLY common shingle is the hot one
    for i in range(20):
        body = f"unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e"
        rows.append((i, f"{hot} {body}"))
    # one true near-dup pair: long shared distinctive tail, one edit
    tail = " ".join(f"shared{j}" for j in range(30))
    rows.append((100, f"{hot} {tail}"))
    rows.append((101, f"{hot} {tail} extra"))
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows], "doc_id long, text string, n_chars long"
    )

    uncapped = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df).collect()
    }
    capped_rows = ngram_jaccard_pairs(df, max_shingle_df=5).collect()
    capped = {(r.doc_a, r.doc_b) for r in capped_rows}

    assert (100, 101) in uncapped and (100, 101) in capped
    # the hot shingle alone never cleared the 0.5 threshold, but the
    # capped run must also never even CONSIDER those buckets — no
    # unrelated pair can appear either way
    assert all(a >= 100 for a, b in capped)
    # capped jaccard is over the filtered vocabulary: still high for
    # the true pair
    j = {(r.doc_a, r.doc_b): r.jaccard for r in capped_rows}[(100, 101)]
    assert j >= 0.5


def test_repeated_ngrams_planted_shared_passage(spark):
    """Two docs sharing an 8-word passage are exposed; a unique doc and
    a short doc (<8 tokens, whole-doc gram) are not."""
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, passage + " one two three four five six seven eight"),
            (2, "x1 x2 x3 x4 " + passage + " y1 y2 y3 y4"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
            (4, "short doc here"),
            (5, "short doc here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in D.repeated_ngram_stats(docs).collect()
    }
    # the shared passage is exactly one 8-gram in each of docs 1 and 2
    assert out[1].n_dup_grams == 1 and out[2].n_dup_grams == 1
    assert out[3].n_dup_grams == 0 and not out[3].flagged
    # short identical docs share their single whole-doc gram
    assert out[4].n_grams == 1 and out[4].n_dup_grams == 1 and out[4].flagged
    assert out[5].flagged
    # n_grams: doc 1 has 16 tokens -> 9 positional grams, all distinct
    assert out[1].n_grams == 9


def test_positional_ngram_rows_positions_and_lengths(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "p q")], "doc_id long, text string"
    )
    rows = {
        (r.doc_id, r.q): (r.glen, r.s)
        for r in D.positional_ngram_rows(docs, 3).collect()
    }
    assert rows[(1, 0)] == (3, "a b c")
    assert rows[(1, 1)] == (3, "b c d")
    assert rows[(1, 2)] == (3, "c d e")
    assert (1, 3) not in rows
    assert rows[(2, 0)] == (2, "p q")


def test_canonical_corpus_keeps_one_per_cluster(spark, sf_dir):
    from mpi_mapreduce_spark.operators.dedup import dedup_canonical_corpus

    rows = dedup_canonical_corpus(spark, sf_dir).collect()
    n_docs = D._docs(spark, sf_dir).count()
    assert len(rows) == n_docs  # every doc gets a decision
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        # exactly one canonical per cluster, and it's the min doc_id
        canon = [r.doc_id for r in members if r.is_canonical]
        assert canon == [min(r.doc_id for r in members)]
        assert comp == canon[0]
        assert all(r.cluster_size == len(members) for r in members)


def test_embedding_lsh_plan_is_cogrouped_gather(spark, sf_dir):
    """The rescore must be the cogrouped block gather, not per-pair
    vector joins: candidates stay skinny and vectors fan out O(n·B).
    No nested-loop/cartesian anywhere; the banded frame carries an
    explicit repartition so the bucket join parallelizes off a
    single-file scan."""
    plan = (
        D.dedup_embedding_lsh(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_containment_catches_subset_copy_jaccard_misses(spark):
    """A short doc pasted into a much longer one: containment flags
    the pair, symmetric Jaccard (threshold 0.5) does not."""
    from mpi_mapreduce_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        ngram_jaccard_pairs,
    )
    import mpi_mapreduce_spark.operators.dedup as mod

    short = " ".join(f"w{i}" for i in range(12))
    long = short + " " + " ".join(f"x{i}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (1, short, len(short)),
            (2, long, len(long)),
            (3, "totally unrelated content here now", 34),
        ],
        "doc_id long, text string, n_chars long",
    )
    orig = mod._docs
    mod._docs = lambda s, d: docs
    try:
        cont = {
            (r.doc_a, r.doc_b): r.containment
            for r in mod.dedup_containment(spark, "x").collect()
        }
    finally:
        mod._docs = orig
    assert (1, 2) in cont and cont[(1, 2)] >= CONTAINMENT_THRESHOLD
    assert all(3 not in p for p in cont)
    jac = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) not in jac  # the case jaccard structurally misses


def _drop_doc_file(spark, tmp_path, src, name, rows):
    """Stage a (doc_id, text) parquet file into the nightly src dir."""
    import os

    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = next(
        f for f in os.listdir(str(tmp_path / "stage")) if f.endswith(".parquet")
    )
    os.replace(str(tmp_path / "stage" / part), os.path.join(src, name))


def test_nightly_dedup_update_two_nights(spark, tmp_path):
    """Night 1 seeds the index; night 2 reads ONLY the new file, flags
    the near-copy of a night-1 doc, keeps the novel doc, and the
    ledger makes a third run a no-op."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    index = str(tmp_path / "state" / "minhash")
    os.makedirs(src)

    base = "the quick brown fox jumps over the lazy dog again and again "

    def drop(name, rows):
        _drop_doc_file(spark, tmp_path, src, name, rows)

    drop(
        "n1.parquet",
        [(1, base * 4), (2, "completely different material " * 6)],
    )
    d1, f1 = nightly_leg(spark, batch, state, "minhash")
    assert len(f1) == 1
    assert {r.doc_id: r.keep for r in d1.collect()} == {1: True, 2: True}

    drop(
        "n2.parquet",
        [(3, base * 4 + "tail tweak"), (4, "novel text nobody saw before " * 5)],
    )
    d2, f2 = nightly_leg(spark, batch, state, "minhash")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]
    got = {r.doc_id: r.keep for r in d2.collect()}
    assert got == {3: False, 4: True}

    d3, f3 = nightly_leg(spark, batch, state, "minhash")
    assert d3 is None and f3 == []
    # index now holds all four signatures
    assert spark.read.parquet(index).count() == 4


def test_nightly_intra_batch_near_dups_keep_first(spark, tmp_path):
    """Two near-identical docs arriving the SAME night: the lower
    doc_id keeps, the higher is flagged — the round-3 hole where both
    persisted forever (flags were computed only against the index,
    and the ledger never re-examines a file)."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    os.makedirs(src)

    base = "the quick brown fox jumps over the lazy dog again and again "
    _drop_doc_file(
        spark,
        tmp_path,
        src,
        "n1.parquet",
        [
            (1, base * 4),
            (2, base * 4 + "tail tweak"),
            (3, "completely different material " * 6),
        ],
    )
    d1, _ = nightly_leg(spark, batch, state, "minhash")
    assert {r.doc_id: r.keep for r in d1.collect()} == {
        1: True,
        2: False,
        3: True,
    }


def test_nightly_crash_replay_is_idempotent(spark, tmp_path):
    """Crash between the index write and the ledger commit: the replay
    must reproduce the SAME decisions (tonight's own persisted
    signatures are excluded from the match side — without that, every
    replayed doc self-matches 32/32 and flips keep→drop) and must not
    duplicate index rows (the write is keyed by batch id and
    overwrites)."""
    import os
    import shutil

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    ledger = str(tmp_path / "state" / "ledger")
    index = str(tmp_path / "state" / "minhash")
    os.makedirs(src)

    base = "the quick brown fox jumps over the lazy dog again and again "
    _drop_doc_file(
        spark,
        tmp_path,
        src,
        "n1.parquet",
        [
            (1, base * 4),
            (2, base * 4 + "tail tweak"),
            (3, "completely different material " * 6),
        ],
    )
    d1, _ = nightly_leg(spark, batch, state, "minhash")
    first = {r.doc_id: (r.is_near_dup, r.keep) for r in d1.collect()}
    n_index = spark.read.parquet(index).count()

    # simulate the crash: index written, ledger commit lost
    shutil.rmtree(ledger)
    d2, f2 = nightly_leg(spark, batch, state, "minhash")
    assert [os.path.basename(f) for f in f2] == ["n1.parquet"]
    assert {r.doc_id: (r.is_near_dup, r.keep) for r in d2.collect()} == first
    assert spark.read.parquet(index).count() == n_index  # overwrite, not append


def test_containment_hot_shingle_cap(spark):
    """max_shingle_df on the containment path (the round-3 verdict's
    one weak item): docs related ONLY through a corpus-wide hot
    shingle must stop pairing at candidate-generation time, while a
    true subset-copy keeps containment 1.0 over the filtered
    vocabulary."""
    hot = "the quick brown"
    rows = []
    for i in range(20):
        rows.append(
            (i, f"{hot} unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e")
        )
    short = " ".join(f"w{j}" for j in range(12))
    long_ = short + " " + " ".join(f"x{j}" for j in range(120))
    rows.append((100, f"{hot} {short}"))
    rows.append((101, f"{hot} {long_}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(df).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.containment_pairs(df, max_shingle_df=5).collect()
    }
    assert (100, 101) in uncapped
    assert capped == {(100, 101): 1.0}  # hot buckets gone, true pair kept


def test_embedding_auto_path_selection(spark, monkeypatch):
    """The density probe: a separated corpus (tight planted pairs,
    production-shape banding b=8/L=8 at threshold 0.9) must pick LSH
    and find exactly the planted pairs; a threshold-hugging corpus
    (every vector near-identical → every pair collides in every band)
    must fall back to the exact blocked plan."""
    import numpy as np

    monkeypatch.setattr(D, "EMBED_DUP_THRESHOLD", 0.9)
    monkeypatch.setattr(D, "EMBED_LSH_BAND_BITS", 8)
    monkeypatch.setattr(D, "EMBED_LSH_BANDS", 8)
    rng = np.random.RandomState(7)
    dim = 16

    def norm(v):
        return (v / np.linalg.norm(v)).tolist()

    rows, planted = [], set()
    vid = 0
    for c in range(20):
        center = rng.randn(dim)
        a, b = vid, vid + 1
        for _ in range(2):
            rows.append((vid, norm(center + 0.05 * rng.randn(dim))))
            vid += 1
        planted.add((a, b))
    sep = spark.createDataFrame(rows, "vec_id long, v array<double>")
    pairs, path = D.embedding_neardup_auto(sep, dim=dim)
    assert path == "lsh"
    found = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    assert planted <= found

    center = rng.randn(dim)
    hug = spark.createDataFrame(
        [(i, norm(center + 0.01 * rng.randn(dim))) for i in range(40)],
        "vec_id long, v array<double>",
    )
    _, path2 = D.embedding_neardup_auto(hug, dim=dim)
    assert path2 == "exact"


def test_validate_twin_flags_pinned_true(spark, sf_dir):
    """The two new banded twins: their invariant flags must be
    literally TRUE on the fixture (the driver oracle pins the same)."""
    sv = D.dedup_simhash_validate(spark, sf_dir)
    assert sv.where(~F.col("found_iff_close")).count() == 0
    iv = D.dedup_incremental_minhash_validate(spark, sf_dir)
    assert iv.count() > 0
    assert iv.where(~F.col("mh_implies_true_dup")).count() == 0


def test_pipeline_canonical_containment_only_canonical_docs(spark, sf_dir):
    """The composed ordering query must emit pairs ONLY between
    canonical representatives — no replica/near-dup cluster member may
    reach the containment stage."""
    canon = {
        r.doc_id
        for r in D.dedup_canonical_corpus(spark, sf_dir).collect()
        if r.is_canonical
    }
    for r in D.pipeline_canonical_containment(spark, sf_dir).collect():
        assert r.doc_a in canon and r.doc_b in canon


def test_semantic_dedup_flags_planted_pairs(spark):
    """SemDeDup on planted near-identical pairs in separated
    directions: each pair must co-cluster under the deterministic
    k-means and its HIGHER vec_id must be flagged (keep-first), while
    every vector gets exactly one decision row."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 16
    rows = []
    vid = 0
    for _c in range(16):
        center = rng.randn(dim)
        for _ in range(2):
            v = center + 0.01 * rng.randn(dim)
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {r.vec_id: r for r in D.semantic_dedup_flags(emb).collect()}
    assert len(out) == 32
    for a in range(0, 32, 2):
        b = a + 1
        assert out[a].cluster == out[b].cluster
        assert out[b].is_dup and not out[b].keep


def test_kmeans_assignment_is_deterministic_and_total(spark, sf_dir):
    """Every vector gets exactly one cluster in [0, k); two runs agree
    exactly (quantized argmax + exact means: no RNG anywhere)."""
    from mpi_mapreduce_spark.operators.similarity import (
        KMEANS_K,
        embedding_kmeans,
    )

    a = {r.vec_id: (r.cluster, r.cosine) for r in embedding_kmeans(spark, sf_dir).collect()}
    b = {r.vec_id: (r.cluster, r.cosine) for r in embedding_kmeans(spark, sf_dir).collect()}
    assert a == b
    assert all(0 <= c < KMEANS_K for c, _ in a.values())


def test_substring_spans_planted_shared_passage(spark):
    # doc 1 and 2 share a 10-token passage (>= SPAN_N=8); doc 3 is
    # unrelated. Expect ONE maximal span per sharing doc covering
    # exactly the planted passage, nothing for doc 3.
    passage = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, "aa bb " + passage + " cc dd"),
            (2, passage + " zz yy xx ww vv uu tt ss rr qq"),
            (3, "totally unrelated words repeated nowhere else at all kk ll mm nn"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in D.duplicated_span_rows(df).collect()
    }
    # doc 1: passage occupies token positions 2..11
    assert spans[1] == (2, 11, 10)
    # doc 2: positions 0..9
    assert spans[2] == (0, 9, 10)
    assert 3 not in spans


def test_substring_spans_merge_adjacent_grams(spark):
    # a 16-token shared prefix yields 9 overlapping 8-gram seeds that
    # must merge into ONE maximal span, not 9 rows
    shared = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, shared + " tail1 only1"), (2, shared + " tail2 only2")],
        "doc_id long, text string",
    )
    rows = D.duplicated_span_rows(df).collect()
    assert len(rows) == 2
    for r in rows:
        assert (r.span_start, r.span_end, r.span_tokens) == (0, 15, 16)


def test_substring_stats_zero_rows_kept(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "completely different tokens with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    stats = {r.doc_id: r for r in D.substring_dup_stats(df).collect()}
    assert stats[1].dup_tokens == 0 and stats[1].n_spans == 0
    assert stats[1].dup_frac == 0.0
    assert stats[2].n_tokens == 10


def test_substring_strip_removes_planted_passage(spark):
    passage = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, "aa bb " + passage + " cc dd"),
            (2, passage + " zz yy xx ww vv uu tt ss rr qq"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.strip_duplicated_spans(df).collect()}
    assert out[1].clean_text == "aa bb cc dd"
    assert out[1].n_removed == 10
    assert out[2].clean_text == "zz yy xx ww vv uu tt ss rr qq"
    # fully-duplicated doc comes back empty, not dropped
    df2 = spark.createDataFrame(
        [(1, passage), (2, passage)], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in D.strip_duplicated_spans(df2).collect()}
    assert out2[1].clean_text == "" and out2[1].n_removed == 10
    assert out2[2].clean_text == ""


def test_composed_minhash_recovers_recall_on_replica_saturated_corpus(spark):
    """The composed exact→minhash production ordering (SCALING.md's
    clearest scale lesson), pinned at test scale: an 80-wide verbatim
    replica group saturates every LSH band bucket past the 64-doc cap,
    so UNCOMPOSED minhash — correctly, the cap is a skew guard —
    drops those buckets wholesale and returns ZERO pairs; collapsing
    replicas first (pipeline_canonical_minhash's input transform)
    restores full recall on the surviving near-dup structure."""
    tail = " ".join(f"w{j}" for j in range(40))
    rows = [(i, f"replica body {tail}") for i in range(80)]
    rows.append((200, f"replica body {tail} trailing edit"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncomposed = _pairs(D.minhash_jaccard_pairs(df))
    assert uncomposed == set(), "81-wide buckets must hit the cap"

    canon = D.exact_canonical_docs(df)
    assert canon.count() == 2  # min-doc_id representative + the edit
    composed = _pairs(D.minhash_jaccard_pairs(canon))
    assert (0, 200) in composed


def test_exact_canonical_docs_keeps_min_doc_id(spark):
    df = spark.createDataFrame(
        [(5, "a b c"), (3, "a b c"), (9, "x y z")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in D.exact_canonical_docs(df).collect())
    assert kept == [3, 9]


def test_auto_probe_picks_lsh_on_separated_100k_corpus(spark, monkeypatch):
    """The round-5 scale rehearsal corpus (tools/scale_rehearsal.py
    separated_embeddings: 100k unit vectors, 1000 planted pairs at
    cosine ≈ 0.97, bulk pair cosines ~ N(0, 1/64)) is the regime the
    banded/IVF/PQ paths exist for — the density probe must choose LSH
    there at the production search shape (θ=0.9, b/L =
    scale_rehearsal's measured default — 10/12 since the round-6
    sweep; the probe's LSH margin only widens as banding deepens).
    Only the DECISION is executed here (the probe is one banding
    aggregate); the chosen plan's wall-clock lives in SCALING.md."""
    import sys

    import pandas as pd

    sys.path.insert(0, "/root/repo/tools")
    try:
        from scale_rehearsal import (
            EMB_PROD_BANDS,
            EMB_PROD_BITS,
            EMB_PROD_THRESHOLD,
            EMB_SEP_DIM,
            separated_embeddings,
        )
    finally:
        sys.path.pop(0)

    ids, v, planted = separated_embeddings()
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "v": list(v.astype("float64"))}),
        "vec_id long, v array<double>",
    )
    monkeypatch.setattr(D, "EMBED_DUP_THRESHOLD", EMB_PROD_THRESHOLD)
    monkeypatch.setattr(D, "EMBED_LSH_BAND_BITS", EMB_PROD_BITS)
    monkeypatch.setattr(D, "EMBED_LSH_BANDS", EMB_PROD_BANDS)
    _pairs_df, path = D.embedding_neardup_auto(emb, EMB_SEP_DIM)
    assert path == "lsh"


def test_collapsed_cc_reconstruction_equals_full_graph(spark):
    """The collapsed-first CC family must reproduce FULL-graph
    components exactly on a corpus exercising every reconstruction
    case: a pure replica group (vertices only via replica pairs), a
    replica group whose text also near-dups another text (collapsed
    edge + re-expansion), a cross-text near-dup pair with no replicas,
    and a singleton (no vertex at all)."""
    def tail(g):  # distinct per group so groups never near-dup each other
        return " ".join(f"{g}{j}" for j in range(30))

    rows = [
        # pure replica group: ids 0,1,2 (same text, no outside near-dup)
        (0, f"pure group {tail('p')} zzz"),
        (1, f"pure group {tail('p')} zzz"),
        (2, f"pure group {tail('p')} zzz"),
        # replica group {10, 11} whose text near-dups doc 12
        (10, f"bridge text {tail('b')}"),
        (11, f"bridge text {tail('b')}"),
        (12, f"bridge text {tail('b')} edit"),
        # plain near-dup pair, no replicas
        (20, f"plain pair {tail('q')} aa"),
        (21, f"plain pair {tail('q')} aa bb"),
        # singleton
        (30, "completely unrelated words only here"),
    ]
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows],
        "doc_id long, text string, n_chars long",
    )

    full = {
        (r.doc_id, r.comp)
        for r in D.connected_components(
            D.ngram_jaccard_pairs(df).select("doc_a", "doc_b")
        ).collect()
    }

    w = D.W.partitionBy(D.F.xxhash64("text"), D.F.col("text"))
    rr = df.select(
        "doc_id",
        D.F.min("doc_id").over(w).alias("rep"),
        D.F.count(D.F.lit(1)).over(w).alias("grp_n"),
    )
    canon0 = df.join(
        rr.where(D.F.col("doc_id") == D.F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    comp_c = D.connected_components(
        D.ngram_jaccard_pairs(canon0).select("doc_a", "doc_b")
    ).select(D.F.col("doc_id").alias("rep"), "comp")
    rebuilt = {
        (r.doc_id, r.component)
        for r in rr.join(comp_c, "rep", "left")
        .where((D.F.col("grp_n") >= 2) | D.F.col("comp").isNotNull())
        .select(
            "doc_id", D.F.coalesce("comp", "rep").alias("component")
        )
        .collect()
    }
    assert rebuilt == full
    # and the expected structure, explicitly:
    assert full == {
        (0, 0), (1, 0), (2, 0),          # pure replica group
        (10, 10), (11, 10), (12, 10),    # bridged group + its near-dup
        (20, 20), (21, 20),              # plain pair
    }                                     # singleton 30 absent


def test_fixture_has_no_tokenless_documents(sf_dir):
    """Pins the non-empty-text fixture PRECONDITION documented on
    _ngram_jaccard_oracle: engine shingling emits nothing for
    empty / whitespace-only texts while the oracle's ELSE branch gives
    them the shingle set {''}, so engine/oracle agreement for the
    whole ngram-Jaccard family (pairs, validates, CC, pipelines)
    requires the documents fixtures to contain no token-less text.
    Checked at BOTH test and driver scales so a fixture regeneration
    that violates it fails here, not as a downstream hash mismatch."""
    import re

    import pyarrow.parquet as pq

    # the unit-test scale (sf_dir honours SPARK_GRAFT_TEST_SF_DIR) and
    # the driver's own gate scale
    for sf in dict.fromkeys((sf_dir, "/root/testdata/sf0.01")):
        texts = pq.read_table(f"{sf}/documents.parquet", columns=["text"])
        bad = sum(
            1
            for t in texts.column("text").to_pylist()
            if t is None or re.fullmatch(r"\s*", t)
        )
        assert bad == 0, f"{sf}: {bad} token-less documents"


def test_tokenless_docs_shingle_to_nothing(spark):
    """The ENGINE half of the precondition above: empty and
    whitespace-only texts produce NO shingle rows — so they join no
    inverted index, pair with nothing (not even an identical empty
    doc), and are invisible to the whole ngram-Jaccard family. This is
    the semantic choice the oracle precondition protects: 'nothing to
    near-dup' rather than 'all empties are near-dups of each other'."""
    df = spark.createDataFrame(
        [
            (1, "", 0),
            (2, "   ", 3),
            (3, "\t\n ", 3),
            (4, "real tokens here", 16),
        ],
        "doc_id long, text string, n_chars int",
    )
    srows = D.shingle_rows(df)
    assert {r.doc_id for r in srows.collect()} == {4}
    assert D.ngram_jaccard_pairs(df).count() == 0


def _persistent_rdd_ids(spark) -> set[int]:
    return set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def test_shingle_index_no_cache_growth(spark, sf_dir):
    """Pins the r7 cache-lifecycle contract (VERDICT r6 item 4): two
    shingle_index invocations over two DIFFERENT doc frames leave the
    persisted-RDD census exactly where it started (the index lives
    only inside the block), and two _minhash_validate_frame
    invocations leave the SQL CacheManager with no new entry (its
    srows is context-managed; its surviving intermediates are tiny
    ContextCleaner-owned localCheckpoint pair RDDs, not cache
    entries). Set-based (ids_after subset-of ids_before) so an async
    ContextCleaner sweep of older RDDs can't flake the count."""
    mk = lambda k: spark.createDataFrame(
        [
            (k * 10 + 1, "alpha beta gamma delta epsilon zeta", 35),
            (k * 10 + 2, "alpha beta gamma delta epsilon eta", 34),
            (k * 10 + 3, "totally different words in this doc", 35),
        ],
        "doc_id long, text string, n_chars int",
    )
    docs1, docs2 = mk(1), mk(2)

    before = _persistent_rdd_ids(spark)
    for docs in (docs1, docs2):
        with D.shingle_index(docs) as srows:
            D.minhash_jaccard_pairs(docs, srows=srows).count()
            live = _persistent_rdd_ids(spark) - before
            assert len(live) == 1, f"expected exactly the index: {live}"
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"shingle_index leaked persistent RDDs: {leaked}"

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for docs in (docs1, docs2):
        assert D._minhash_validate_frame(docs).count() >= 1
    assert cm.isEmpty(), "_minhash_validate_frame left a cache entry"

    # same contract for the embedding validate twins (their candidate
    # frame is persisted only while their pair tables materialize)
    for fn in (
        D.dedup_embedding_lsh_validate,
        D.dedup_incremental_embedding_validate,
    ):
        for _ in range(2):
            fn(spark, sf_dir).count()
        assert cm.isEmpty(), f"{fn.__name__} left a cache entry"


def test_minhash_band_shape_recall_monotone(spark, monkeypatch):
    """Pins the r7 MinHash band-shape/signature-length knobs by their
    SUBSET theorems (stronger than recall comparison), on the planted
    corpus the SCALING.md sweep uses (tools/scale_rehearsal.py
    planted_text_corpus):

    - rows-per-band: a 4-row band collision implies both 2-row halves
      collide, and a 2-row collision implies both 1-row constituents
      collide, so at 32 hashes pairs(8x4) <= pairs(16x2) <= pairs(32x1).
    - signature length at fixed 2 rows/band: hash family i is
      xxhash64(h, i), so a shorter signature's bands are literally a
      PREFIX of a longer one's — pairs(16h) <= pairs(32h) <= pairs(64h).

    (Set inequalities hold modulo the 64-wide bucket cap, which this
    corpus never reaches.) Also pins precision-exactness: every shape's
    output is a subset of the exact-Jaccard truth."""
    from tools.scale_rehearsal import planted_text_corpus

    texts, n_chars, _ = planted_text_corpus(600)
    docs = spark.createDataFrame(
        [(i, t, n_chars) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars int",
    )
    truth = _pairs(D.ngram_jaccard_pairs(docs))
    assert len(truth) > 40, "planted fixture lost its truth set"
    shape = {}
    for h, b in ((32, 8), (32, 16), (32, 32), (16, 8), (64, 32)):
        with monkeypatch.context() as m:
            m.setattr(D, "MINHASH_HASHES", h)
            m.setattr(D, "MINHASH_BANDS", b)
            shape[(h, b)] = _pairs(D.minhash_jaccard_pairs(docs))
    # rows-per-band chain at 32 hashes
    assert shape[(32, 8)] <= shape[(32, 16)] <= shape[(32, 32)]
    # signature-length chain at 2 rows/band
    assert shape[(16, 8)] <= shape[(32, 16)] <= shape[(64, 32)]
    # precision: the exact verify makes every shape truth-subset
    for s in shape.values():
        assert s <= truth
    # and the production shape's recall is near-total even on a truth
    # set that hugs the 0.5 threshold
    assert len(shape[(32, 16)]) / len(truth) >= 0.95


def test_incremental_embedding_flags_planted_batch(spark, monkeypatch):
    """Batch vectors dedup against the corpus bucket index ONLY: a
    batch vector near-identical to a corpus vector is dropped, a fresh
    one kept, and the corpus-internal near-dup pair (1, 2) never flags
    anything — the corpus is not re-paired with itself. Separated
    fixture (tight planted pairs, deep b=8/L=8 banding at threshold
    0.9), so hits equal the exact batch×corpus pairs: precision is the
    rescore theorem, recall because near-identical vectors co-bucket
    in every band."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 16

    def norm(v):
        return (v / np.linalg.norm(v)).tolist()

    c0, c1 = rng.randn(dim), rng.randn(dim)
    corpus = spark.createDataFrame(
        [
            (1, norm(c0)),
            (2, norm(c0 + 0.01 * rng.randn(dim))),
            (3, norm(c1)),
        ],
        "vec_id long, v array<double>",
    )
    batch = spark.createDataFrame(
        [
            (10, norm(c0 + 0.01 * rng.randn(dim))),
            (20, norm(c1 + 0.01 * rng.randn(dim))),
            (30, norm(rng.randn(dim))),
        ],
        "vec_id long, v array<double>",
    )
    monkeypatch.setattr(D, "EMBED_DUP_THRESHOLD", 0.9)
    monkeypatch.setattr(D, "EMBED_LSH_BAND_BITS", 8)
    monkeypatch.setattr(D, "EMBED_LSH_BANDS", 8)
    got = {
        r.vec_id: (r.is_near_dup, r.keep)
        for r in D.embedding_dedup_against_corpus(
            batch, corpus, dim=dim
        ).collect()
    }
    assert got == {10: (True, False), 20: (True, False), 30: (False, True)}


def test_incremental_embedding_validate_all_true(spark, sf_dir):
    """The registered twin's invariant on fixture data: every exact
    batch×corpus pair carries found_iff_cobucketed TRUE, and the pair
    set equals dedup_embedding restricted to split-crossing pairs."""
    rows = D.dedup_incremental_embedding_validate(spark, sf_dir).collect()
    exact_bc = {
        (r.vec_a, r.vec_b)
        for r in D.dedup_embedding(spark, sf_dir).collect()
        if (r.vec_a % D.INCR_BATCH_MOD == 0)
        != (r.vec_b % D.INCR_BATCH_MOD == 0)
    }
    assert {(r.vec_a, r.vec_b) for r in rows} == exact_bc
    assert all(r.found_iff_cobucketed for r in rows)


def test_minhash_band_shape_must_divide(spark, monkeypatch):
    """A band count that doesn't divide the signature length is a
    config error, not a silent truncation: minhash_band_keys raises
    before any job runs."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b c d e", 9)], "doc_id long, text string, n_chars int"
    )
    monkeypatch.setattr(D, "MINHASH_HASHES", 32)
    sig = D.minhash_signature_table(D.shingle_rows(docs))
    monkeypatch.setattr(D, "MINHASH_BANDS", 5)
    with pytest.raises(ValueError, match="must divide"):
        D.minhash_band_keys(sig)


def test_bucket_index_feeds_incremental(spark, sf_dir):
    """Pins the stored-index serving contract (VERDICT r7 item 2): the
    embedding_bucket_index artifact, filtered to the corpus split and
    passed as ``corpus_bands``, yields EXACTLY the candidate pairs the
    rebuilt-index path computes — so a nightly job can keep the
    (vec_id, band, bucket) table on disk and never re-band the corpus."""
    emb = D._normalized_embeddings(spark, sf_dir)
    batch = emb.where(F.col("vec_id") % D.INCR_BATCH_MOD == 0)
    corpus = emb.where(F.col("vec_id") % D.INCR_BATCH_MOD != 0)
    stored = D.embedding_bucket_index(spark, sf_dir).where(
        F.col("vec_id") % D.INCR_BATCH_MOD != 0
    )
    via_index = {
        (r.vec_a, r.vec_b)
        for r in D.embedding_incremental_candidates(
            batch, corpus, dim=64, corpus_bands=stored
        ).collect()
    }
    rebuilt = {
        (r.vec_a, r.vec_b)
        for r in D.embedding_incremental_candidates(
            batch, corpus, dim=64
        ).collect()
    }
    assert via_index == rebuilt and len(rebuilt) > 0


def test_bucket_index_margin():
    """The embedding_bucket_index oracle's cross-engine safety rests on
    no hyperplane projection sitting within float addition-order noise
    of zero (DuckDB's list_dot_product is a pairwise sum, the engine's
    dot a sequential fold — last-ulp differences). Pin the measured
    margin at >= 1e-9 on every fixture SF (measured >= 6.5e-6; pure
    numpy over the parquet, no Spark needed)."""
    import glob
    import os

    import duckdb
    import numpy as np

    from mpi_mapreduce_spark.operators import similarity as SIM

    hps = list(
        D._band_hyperplanes(64, D.EMBED_LSH_BAND_BITS, D.EMBED_LSH_BANDS)
    ) + [__import__("numpy").asarray(h) for h in SIM._hyperplanes(64)]
    sfs = sorted(glob.glob("/root/testdata/sf*/embeddings.parquet"))
    assert sfs, "no embedding fixtures found"
    for path in sfs:
        m = np.vstack(
            duckdb.sql(
                f"SELECT embedding FROM '{path}'"
            ).fetchnumpy()["embedding"]
        ).astype(np.float64)
        n = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
        v = m / np.where(n > 0, n, 1.0)[:, None]
        margin = min(
            np.abs(np.cumsum(v * h, axis=1)[:, -1]).min() for h in hps
        )
        assert margin >= 1e-9, f"{os.path.dirname(path)}: margin {margin}"


from tests.conftest import axis_vec, drop_vec_file


def _drop_vec_file(spark, tmp_path, src, name, rows):
    return drop_vec_file(spark, tmp_path, src, name, rows)


def _axis(i, dim=8):
    return axis_vec(i, dim)


def _near(i, dim=8):
    return axis_vec(i, dim, wiggle=0.04)


def test_nightly_embedding_two_nights(spark, tmp_path):
    """Night 1 seeds both index legs; night 2 reads ONLY the new file,
    flags the near-copy of a night-1 vector via the STORED bucket
    index, keeps the novel vector, and the ledger makes a third run a
    no-op. Index legs hold all four vectors afterwards."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    index = str(tmp_path / "state" / "embedding")
    os.makedirs(src)

    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet", [(1, _axis(0)), (2, _axis(1))]
    )
    d1, f1 = nightly_leg(spark, batch, state, "embedding")
    assert len(f1) == 1
    assert {r.vec_id: r.keep for r in d1.collect()} == {1: True, 2: True}

    _drop_vec_file(
        spark, tmp_path, src, "n2.parquet", [(3, _near(0)), (4, _axis(2))]
    )
    d2, f2 = nightly_leg(spark, batch, state, "embedding")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]
    assert {r.vec_id: r.keep for r in d2.collect()} == {3: False, 4: True}

    d3, f3 = nightly_leg(spark, batch, state, "embedding")
    assert d3 is None and f3 == []
    assert spark.read.parquet(os.path.join(index, "vectors")).count() == 4
    assert (
        spark.read.parquet(os.path.join(index, "bands")).count()
        == 4 * D.EMBED_LSH_BANDS
    )


def test_nightly_embedding_intra_batch_keep_first(spark, tmp_path):
    """Two near-identical vectors arriving the SAME night: the lower
    vec_id keeps, the higher is flagged — without the intra-batch band
    self-join both would persist forever (the ledger never re-examines
    their file)."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    os.makedirs(src)
    _drop_vec_file(
        spark,
        tmp_path,
        src,
        "n1.parquet",
        [(1, _axis(0)), (2, _near(0)), (3, _axis(1))],
    )
    d1, _ = nightly_leg(spark, batch, state, "embedding")
    assert {r.vec_id: r.keep for r in d1.collect()} == {
        1: True,
        2: False,
        3: True,
    }


def test_nightly_embedding_crash_replay_idempotent(spark, tmp_path):
    """Crash between the index writes and the ledger commit: the
    replay must reproduce the SAME decisions (tonight's own persisted
    partitions are excluded from both index legs — otherwise every
    replayed vector self-matches at cosine 1 and flips keep→drop) and
    must not duplicate index rows (writes are keyed by batch id and
    overwrite)."""
    import os
    import shutil

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    ledger = str(tmp_path / "state" / "ledger")
    index = str(tmp_path / "state" / "embedding")
    os.makedirs(src)
    _drop_vec_file(
        spark,
        tmp_path,
        src,
        "n1.parquet",
        [(1, _axis(0)), (2, _near(0)), (3, _axis(1))],
    )
    d1, _ = nightly_leg(spark, batch, state, "embedding")
    first = {r.vec_id: (r.is_near_dup, r.keep) for r in d1.collect()}
    n_bands = spark.read.parquet(os.path.join(index, "bands")).count()
    n_vecs = spark.read.parquet(os.path.join(index, "vectors")).count()

    shutil.rmtree(ledger)  # simulate: index written, ledger commit lost
    d2, f2 = nightly_leg(spark, batch, state, "embedding")
    assert [os.path.basename(f) for f in f2] == ["n1.parquet"]
    assert {r.vec_id: (r.is_near_dup, r.keep) for r in d2.collect()} == first
    assert spark.read.parquet(os.path.join(index, "bands")).count() == n_bands
    assert spark.read.parquet(os.path.join(index, "vectors")).count() == n_vecs


def test_nightly_embedding_empty_file_is_consumed(spark, tmp_path):
    """Round-8 review regression: a valid zero-row vector file must be
    consumed (ledger committed, empty decisions) instead of crashing
    on the dim probe and poisoning every later run."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    os.makedirs(src)
    _drop_vec_file(spark, tmp_path, src, "empty.parquet", [])
    d1, f1 = nightly_leg(spark, batch, state, "embedding")
    assert [os.path.basename(f) for f in f1] == ["empty.parquet"]
    assert d1.count() == 0
    d2, f2 = nightly_leg(spark, batch, state, "embedding")
    assert d2 is None and f2 == []
    # a later real night still works (no index legs were written)
    _drop_vec_file(spark, tmp_path, src, "n1.parquet", [(1, _axis(0))])
    d3, _ = nightly_leg(spark, batch, state, "embedding")
    assert {r.vec_id: r.keep for r in d3.collect()} == {1: True}


def test_embedding_index_integrity_clean_and_corrupted(spark, tmp_path):
    """The stored-index DQ audit: a two-night nightly index reads
    clean (n, n·L, 0, 0, 0); planting an orphan band row and a
    wrong-bucket row for a real vector trips exactly the orphan,
    incomplete and stale counters."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    index = str(tmp_path / "state" / "embedding")
    os.makedirs(src)
    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet", [(1, _axis(0)), (2, _axis(1))]
    )
    nightly_leg(spark, batch, state, "embedding")
    _drop_vec_file(
        spark, tmp_path, src, "n2.parquet", [(3, _near(0)), (4, _axis(2))]
    )
    nightly_leg(spark, batch, state, "embedding")

    L = D.EMBED_LSH_BANDS
    clean = D.embedding_index_integrity(spark, index).collect()[0]
    assert (
        clean.n_vectors,
        clean.n_band_rows,
        clean.n_orphan_band_rows,
        clean.n_incomplete_vectors,
        clean.n_stale_band_rows,
    ) == (4, 4 * L, 0, 0, 0)

    # corruption: one orphan row (vec 999 has no stored vector) and
    # one wrong-bucket row for real vec 1 (stale + makes it L+1 rows)
    good = spark.read.parquet(os.path.join(index, "bands")).where(
        (F.col("vec_id") == 1) & (F.col("band") == 0)
    ).collect()[0]
    spark.createDataFrame(
        [
            (999, 0, 0),
            (1, 0, (good.bucket + 1) % (1 << D.EMBED_LSH_BAND_BITS)),
        ],
        "vec_id long, band int, bucket int",
    ).write.mode("overwrite").parquet(
        os.path.join(index, "bands", "batch=bcorrupt")
    )
    bad = D.embedding_index_integrity(spark, index).collect()[0]
    assert (
        bad.n_vectors,
        bad.n_band_rows,
        bad.n_orphan_band_rows,
        bad.n_incomplete_vectors,
        bad.n_stale_band_rows,
    ) == (4, 4 * L + 2, 1, 1, 1)


def test_embedding_index_integrity_empty_vectors_leg(spark, tmp_path):
    """A vectors leg that exists but is EMPTY (wiped restore, torn
    first write) is the rot scenario the audit exists for — it must
    REPORT (every band row an orphan, nothing stale) rather than
    crash on the missing dimension probe (ADVICE r8: None[0]
    TypeError)."""
    import os

    index = str(tmp_path / "index")
    spark.createDataFrame([], "vec_id long, v array<double>").write.parquet(
        os.path.join(index, "vectors", "batch=b0")
    )
    spark.createDataFrame(
        [(1, 0, 5), (1, 1, 9), (2, 0, 5)],
        "vec_id long, band int, bucket int",
    ).write.parquet(os.path.join(index, "bands", "batch=b0"))
    row = D.embedding_index_integrity(spark, index).collect()[0]
    assert (
        row.n_vectors,
        row.n_band_rows,
        row.n_orphan_band_rows,
        row.n_incomplete_vectors,
        row.n_stale_band_rows,
    ) == (0, 3, 3, 0, 0)


# ---------------------------------------------------------------------------
# Bloom-filter membership screen (round-8 late addition)
# ---------------------------------------------------------------------------


def test_bloom_screen_no_false_negatives(spark, sf_dir):
    """The Bloom contract: every batch doc whose text IS in the corpus
    must be flagged seen — zero false negatives, at every row."""
    rows = D.dedup_incremental_bloom(spark, sf_dir).collect()
    assert rows
    fns = [r for r in rows if r.in_corpus and not r.bloom_seen]
    assert fns == []
    # the fixture split may hold no exact cross-split dup, so pin the
    # positive direction on a planted frame: a corpus-member text MUST
    # screen seen
    corpus = spark.createDataFrame(
        [(i, f"planted text {i}") for i in range(50)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "planted text 7"), (101, "definitely novel text")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.bloom_seen
        for r in D.bloom_screen(batch, D.bloom_build(corpus)).collect()
    }
    assert got[100] is True


def test_bloom_stored_filter_serving_matches_recomputed(spark, sf_dir):
    """Stored-index serving contract (same as the ANN-LSH / IVF /
    embedding-index legs): screening against the persisted
    dedup_bloom_filter_table artifact yields exactly the rebuilt-
    filter rows."""
    stored = D.dedup_bloom_filter_table(spark, sf_dir)
    via_stored = {
        tuple(r)
        for r in D.dedup_incremental_bloom(spark, sf_dir, bloom=stored)
        .collect()
    }
    recomputed = {
        tuple(r) for r in D.dedup_incremental_bloom(spark, sf_dir).collect()
    }
    assert via_stored == recomputed and recomputed


def test_bloom_shard_merge_equals_direct(spark, sf_dir):
    """Mergeable-sketch identity: per-shard filters OR-merged equal
    the filter built over the whole corpus in one pass — the property
    that lets 1000 executors build a 100 TB filter with no global
    scan."""
    docs = D._docs(spark, sf_dir).where(
        F.col("doc_id") % D.INCR_BATCH_MOD != 0
    )
    shards = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    per_shard = D.bloom_build(shards[0])
    for s in shards[1:]:
        per_shard = per_shard.unionByName(D.bloom_build(s))
    merged = {(r.word, r.bits) for r in D.bloom_merge(per_shard).collect()}
    direct = {(r.word, r.bits) for r in D.bloom_build(docs).collect()}
    assert merged == direct and direct


def test_bloom_false_positive_rate_within_bound(spark, sf_dir):
    """FP rate ≤ 2× the analytic (1 - e^{-kn/m})^k bound (generous
    slack for the small fixture; the bound itself is asymptotic)."""
    import math

    docs = D._docs(spark, sf_dir)
    n = (
        docs.where(F.col("doc_id") % D.INCR_BATCH_MOD != 0)
        .select("text")
        .distinct()
        .count()
    )
    rows = D.dedup_incremental_bloom(spark, sf_dir).collect()
    novel = [r for r in rows if not r.in_corpus]
    assert novel, "fixture has no novel batch docs"
    fp = sum(1 for r in novel if r.is_fp)
    bound = (
        1.0 - math.exp(-D.BLOOM_HASHES * n / D.BLOOM_BITS)
    ) ** D.BLOOM_HASHES
    assert fp / len(novel) <= max(2.0 * bound, 0.02), (fp, len(novel), bound)


def test_nightly_bloom_two_nights(spark, tmp_path):
    """Night 1 seeds the filter; night 2 reads ONLY the new file,
    flags the exact copy of a night-1 doc via the STORED filter
    (no false negative), leaves the novel doc novel, and the ledger
    makes a third run a no-op. The OR-merge of the two batch
    partitions equals the filter built over all four docs in one
    pass (the across-nights merge identity)."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    index = str(tmp_path / "state" / "bloom")
    os.makedirs(src)

    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet",
        [(1, "alpha text one"), (2, "beta text two")],
    )
    d1, f1 = nightly_leg(spark, batch, state, "bloom")
    assert len(f1) == 1
    assert {r.doc_id: r.novel for r in d1.collect()} == {1: True, 2: True}

    _drop_doc_file(
        spark, tmp_path, src, "n2.parquet",
        [(3, "alpha text one"), (4, "gamma text three")],
    )
    d2, f2 = nightly_leg(spark, batch, state, "bloom")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]
    got = {r.doc_id: (r.bloom_seen, r.novel) for r in d2.collect()}
    assert got[3] == (True, False)  # no false negative on the copy
    assert got[4][1] or got[4][0]  # novel unless an honest FP fired
    assert not got[4][0] or not got[4][1]

    d3, f3 = nightly_leg(spark, batch, state, "bloom")
    assert d3 is None and f3 == []

    merged = {
        (r.word, r.bits)
        for r in D.bloom_merge(
            spark.read.parquet(index).select("word", "bits")
        ).collect()
    }
    all_docs = spark.createDataFrame(
        [(1, "alpha text one"), (2, "beta text two"),
         (3, "alpha text one"), (4, "gamma text three")],
        "doc_id long, text string",
    )
    direct = {(r.word, r.bits) for r in D.bloom_build(all_docs).collect()}
    assert merged == direct


def test_nightly_bloom_intra_batch_keep_first(spark, tmp_path):
    """The same text arriving twice the SAME night: the lower doc_id
    stays novel, the higher is flagged seen_in_batch — without this
    both would persist as 'novel' forever (the ledger never re-reads
    their file)."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    os.makedirs(src)
    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet",
        [(1, "same text"), (2, "same text"), (3, "other text")],
    )
    d1, _ = nightly_leg(spark, batch, state, "bloom")
    got = {r.doc_id: (r.seen_in_batch, r.novel) for r in d1.collect()}
    assert got == {
        1: (False, True),
        2: (True, False),
        3: (False, True),
    }


def test_nightly_bloom_crash_replay_idempotent(spark, tmp_path):
    """Crash between the filter append and the ledger commit: the
    replay reproduces the SAME decisions (tonight's own partition is
    excluded from the serving merge — otherwise every replayed doc
    probes its own persisted bits and flips bloom_seen) and does not
    grow the index (keyed overwrite)."""
    import os
    import shutil

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    ledger = str(tmp_path / "state" / "ledger")
    index = str(tmp_path / "state" / "bloom")
    os.makedirs(src)

    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet",
        [(1, "first doc text"), (2, "second doc text")],
    )
    d1, _ = nightly_leg(spark, batch, state, "bloom")
    first = {tuple(r) for r in d1.collect()}
    n_rows = spark.read.parquet(index).count()

    shutil.rmtree(ledger)
    d2, f2 = nightly_leg(spark, batch, state, "bloom")
    assert [os.path.basename(f) for f in f2] == ["n1.parquet"]
    assert {tuple(r) for r in d2.collect()} == first
    assert spark.read.parquet(index).count() == n_rows


def test_nightly_bloom_empty_file_is_consumed(spark, tmp_path):
    """A valid-but-empty file is committed to the ledger (not
    re-ingested forever) and appends nothing."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    os.makedirs(src)
    _drop_doc_file(spark, tmp_path, src, "n1.parquet", [])
    d1, f1 = nightly_leg(spark, batch, state, "bloom")
    assert d1.count() == 0 and len(f1) == 1
    d2, f2 = nightly_leg(spark, batch, state, "bloom")
    assert d2 is None and f2 == []


def test_novelty_score_planted_semantics(spark):
    """Novelty endpoints and midpoint: an exact copy of a corpus doc
    scores 0, an all-new doc scores 1, and a doc whose second half is
    copied lands strictly between."""
    corpus = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"), (2, "xx yy zz ww vv uu")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "aa bb cc dd ee ff gg hh"),  # exact copy
            (20, "n1 n2 n3 n4 n5 n6 n7 n8"),  # all new
            (30, "m1 m2 m3 cc dd ee ff gg hh"),  # tail copied
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.novelty, r.n_shingles, r.n_novel)
        for r in D.novelty_scores(batch, corpus).collect()
    }
    assert got[10][0] == 0.0
    assert got[20][0] == 1.0
    assert 0.0 < got[30][0] < 1.0
    # every row: novelty == n_novel / n_shingles (to the registered
    # 6-decimal quantization)
    for _id, (nov, n, k) in got.items():
        assert abs(nov - k / n) <= 5e-7


def test_screened_incremental_matches_unscreened_and_prunes(spark, sf_dir):
    """The screened pipeline's two contracts: (1) output identical to
    the unscreened dedup_incremental (the Bloom no-false-negative
    theorem, also driver-attested — same oracle); (2) the screen
    actually PRUNES: the exact leg's candidate set is a strict subset
    of the batch whenever any batch doc is truly novel."""
    screened = {
        tuple(r) for r in D.dedup_incremental_screened(spark, sf_dir).collect()
    }
    plain = {tuple(r) for r in D.dedup_incremental(spark, sf_dir).collect()}
    assert screened == plain and screened

    docs = D._docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % D.INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % D.INCR_BATCH_MOD != 0)
    n_batch = batch.count()
    n_survivors = (
        D.bloom_screen(batch, D.bloom_build(corpus))
        .where(F.col("bloom_seen"))
        .count()
    )
    # on this fixture most batch docs are novel — the screen must cut
    # the exact join's left side hard (any FP-rate under ~50% would)
    assert n_survivors < n_batch / 2, (n_survivors, n_batch)


def test_novelty_bloom_never_inflates_novelty(spark, sf_dir):
    """The feature-level screen's one-sided error: Bloom FPs mark
    truly-novel shingles as seen, so per doc n_novel_est ≤ n_novel
    and novelty_est ≤ novelty (to the shared quantization). Shingle
    counts must agree exactly."""
    exact = {
        r.doc_id: (r.n_shingles, r.n_novel)
        for r in D.dedup_novelty_score(spark, sf_dir).collect()
    }
    est = {
        r.doc_id: (r.n_shingles, r.n_novel_est)
        for r in D.dedup_novelty_bloom(spark, sf_dir).collect()
    }
    assert est.keys() == exact.keys() and est
    for doc_id, (n, k_est) in est.items():
        n_exact, k_exact = exact[doc_id]
        assert n == n_exact
        assert k_est <= k_exact, (doc_id, k_est, k_exact)


def test_incremental_substring_planted_semantics(spark):
    """Incremental span contract on a planted split: a batch doc
    sharing a ≥SPAN_N-token passage with a CORPUS doc gets exactly
    that maximal span; a passage shared only WITHIN the batch does
    not flag (intra-batch is the full op's job); a fully novel batch
    doc yields no rows."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens ≥ SPAN_N=8
    intra = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    corpus = spark.createDataFrame(
        [(1, f"c-lead {shared} c-tail"),
         (2, "corpus filler words only here nothing shared at all")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, f"b-lead-a b-lead-b {shared} b-tail"),  # cross-split
            (20, f"x-a x-b {intra} x-c"),  # intra-batch only
            (30, f"y-a y-b {intra} y-c"),
            (40, "completely novel material with no repeats anywhere ok"),
        ],
        "doc_id long, text string",
    )
    rows = D.incremental_span_rows(batch, corpus).collect()
    got = {r.doc_id: (r.span_start, r.span_end, r.span_tokens) for r in rows}
    # doc 10: tokens 2..11 are the shared passage
    assert got == {10: (2, 11, 10)}


def test_substring_stored_gram_index_serving_matches_recomputed(
    spark, sf_dir, tmp_path
):
    """Stored-index serving contract (same as the Bloom / ANN-LSH /
    IVF / embedding-index legs): probing the PERSISTED
    substring_gram_index artifact yields exactly the recomputed-
    vocabulary spans — closing the round-8 caveat that this was the
    one incremental modality re-gramming its corpus per run."""
    idx = str(tmp_path / "gram_index")
    D.substring_gram_index(spark, sf_dir).write.parquet(idx)
    stored = spark.read.parquet(idx)
    via_stored = {
        tuple(r)
        for r in D.dedup_incremental_substring(
            spark, sf_dir, corpus_grams=stored
        ).collect()
    }
    recomputed = {
        tuple(r)
        for r in D.dedup_incremental_substring(spark, sf_dir).collect()
    }
    assert via_stored == recomputed


def _serving_case(spark, sf_dir, family, idx):
    """Per-family pieces of the serving-ladder test: ``write(key, m)``
    persists the corpus share ``id % 3 == m`` as index partition
    ``batch=<key>``; ``probe()`` is the family's nightly probe over
    ``idx`` (as the serving queries call it, no exclusion); ``flat()``
    is an independent reference over every partition in ``idx``."""
    if family == "embband":
        emb = D._normalized_embeddings(spark, sf_dir)
        batch = emb.where(F.col("vec_id") % D.INCR_BATCH_MOD == 0)
        corpus = emb.where(F.col("vec_id") % D.INCR_BATCH_MOD != 0)
        # the nightly core passes checkpointed band rows
        bb = D.embedding_band_rows(batch, dim=64).localCheckpoint()

        def write(key, m):
            D.embedding_band_rows(
                corpus.where(F.col("vec_id") % 3 == m), dim=64
            ).write.parquet(f"{idx}/batch={key}")

        def probe():
            return D._embedding_cross_candidates(
                spark,
                bb.select(F.col("vec_id").alias("vec_a"), "band", "bucket"),
                idx,
            )

        def flat():
            return D.embedding_incremental_candidates(
                batch,
                corpus=None,
                dim=64,
                corpus_bands=spark.read.parquet(idx).select(
                    "vec_id", "band", "bucket"
                ),
            )

        return write, probe, flat

    docs = D._docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % D.INCR_BATCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % D.INCR_BATCH_MOD != 0)
    if family == "grams":

        def write(key, m):
            D.substring_gram_index_rows(
                corpus.where(F.col("doc_id") % 3 == m)
            ).write.parquet(f"{idx}/batch={key}")

        def probe():
            return D._gram_cross_spans(spark, batch, idx)

        def flat():
            return D.incremental_span_rows(
                batch, corpus_grams=spark.read.parquet(idx).select("s")
            )

        return write, probe, flat

    sig_cols = ["doc_id"] + [f"mh{i}" for i in range(D.MINHASH_HASHES)]
    # the nightly core passes band keys of checkpointed signatures
    bands_b = D.minhash_band_keys(
        D.minhash_signature_table(D.shingle_rows(batch)).localCheckpoint()
    ).select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")

    def write(key, m):
        D.minhash_signature_table(
            D.shingle_rows(corpus.where(F.col("doc_id") % 3 == m))
        ).write.parquet(f"{idx}/batch={key}")

    def probe():
        return D._minhash_cross_candidates(spark, bands_b, idx)

    def flat():
        bands_c = D.minhash_band_keys(
            spark.read.parquet(idx).select(*sig_cols)
        ).select(F.col("doc_id").alias("doc_c"), "band_id", "band_hash")
        return (
            bands_b.join(bands_c, ["band_id", "band_hash"])
            .select("doc_b", "doc_c")
            .distinct()
        )

    return write, probe, flat


def _serving_ladder(spark, sf_dir, tmp_path, monkeypatch, family, rungs):
    """Walk the serving ladder of one stored index family and pin the
    named ``rungs``, with results equal to the flat reference on every
    rung walked:

    - ``flat``: before any compaction the probe is flat — both join
      sides shuffle on the key;
    - the weekly compaction folds every committed partition (always
      run and checked);
    - ``base``: the probe then reads the bucketed base with ONE key
      Exchange per join (the batch side) — the index never moves;
    - ``delta``: a partition committed since rides a broadcast delta
      tier;
    - ``gate``: a plain shuffle join once the deltas outgrow the byte
      cap;
    - ``crash``: a compaction crash (empty fold ledger) falls back to
      the flat probe and never reads the base; re-running the
      compaction is idempotent and folds everything."""
    idx = str(tmp_path / "index")
    base = str(tmp_path / "base")
    ledger = str(tmp_path / "ledger")
    table = D._serving_table(idx, family)
    key = D._INDEX_FAMILIES[family].keys[0]
    buckets = D.GRAM_INDEX_BUCKETS
    write, probe, flat = _serving_case(spark, sf_dir, family, idx)
    write("b1", 0)
    write("b2", 1)
    _commit_keys(spark, tmp_path, ledger, "b1", "b2")

    def rows(df):
        return {tuple(r) for r in df.collect()}

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def key_exchanges(p):
        return p.count(f"Exchange hashpartitioning({key}#")

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        flat_2 = rows(flat())
        assert flat_2
        if "flat" in rungs:
            got = probe()
            p = plan(got)
            n_smj = p.count("SortMergeJoin")
            assert n_smj >= 1 and "Bucketed: true" not in p, p
            assert key_exchanges(p) == 2 * n_smj, p
            assert rows(got) == flat_2

        assert D.weekly_index_compaction(spark, idx, family, ledger, base) == 2
        assert {
            r.batch_key for r in spark.table(f"{table}_folded").collect()
        } == {"b1", "b2"}
        got = probe()
        if "base" in rungs:
            p = plan(got)
            n_smj = p.count("SortMergeJoin")
            assert n_smj >= 1, p
            assert key_exchanges(p) == n_smj, p
            assert "Bucketed: true" in p, p
            assert f"SelectedBucketsCount: {buckets} out of {buckets}" in p, p
        assert rows(got) == flat_2
        if not {"delta", "gate", "crash"} & set(rungs):
            return

        write("b3", 2)
        _commit_keys(spark, tmp_path, ledger, "b3")
        flat_3 = rows(flat())
        if "delta" in rungs:
            got = probe()
            p = plan(got)
            assert "Bucketed: true" in p, p
            assert "BroadcastHashJoin" in p, p
            assert rows(got) == flat_3

        if "gate" in rungs:
            delta_dir = f"{idx}/batch=b3"
            assert D._delta_dirs_small(spark, [delta_dir])
            with monkeypatch.context() as m:
                m.setattr(D, "DELTA_BROADCAST_MAX_BYTES", 1)
                assert not D._delta_dirs_small(spark, [delta_dir])
                assert D._delta_dirs_small(spark, [])
                got = probe()
                p = plan(got)
                assert "Bucketed: true" in p, p
                assert "BroadcastHashJoin" not in p, p
                assert rows(got) == flat_3

        if "crash" in rungs:
            # compaction crash between ledger-invalidate and base write
            spark.createDataFrame([], "batch_key string").write.mode(
                "overwrite"
            ).option("path", f"{base}_folded").saveAsTable(f"{table}_folded")
            got = probe()
            assert "Bucketed: true" not in plan(got)
            assert rows(got) == flat_3

            assert (
                D.weekly_index_compaction(spark, idx, family, ledger, base)
                == 3
            )
            assert rows(probe()) == flat_3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_folded")


def test_weekly_gram_compaction_production_serving(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The weekly gram compaction + production serving loop: flat
    before, folded after, delta tier, crashed ledger, re-compaction."""
    _serving_ladder(
        spark, sf_dir, tmp_path, monkeypatch, "grams",
        ("flat", "delta", "crash"),
    )


def test_weekly_minhash_compaction_production_serving(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The MinHash production loop, same ladder as the gram loop."""
    _serving_ladder(
        spark, sf_dir, tmp_path, monkeypatch, "mhband",
        ("flat", "delta", "crash"),
    )


def test_weekly_embedding_compaction_production_serving(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The embedding production loop, same ladder as the gram loop."""
    _serving_ladder(
        spark, sf_dir, tmp_path, monkeypatch, "embband",
        ("flat", "delta", "crash"),
    )


def test_substring_colocated_serving_shuffle_free_and_identical(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The compacted gram base is probed with no Exchange on the index
    side, and its spans equal the flat probe's."""
    _serving_ladder(spark, sf_dir, tmp_path, monkeypatch, "grams", ("base",))


def test_minhash_colocated_candidates_shuffle_free_and_identical(
    spark, sf_dir, tmp_path, monkeypatch
):
    """MinHash sibling of the gram co-location pin."""
    _serving_ladder(
        spark, sf_dir, tmp_path, monkeypatch, "mhband", ("base",)
    )


def test_embedding_colocated_candidates_shuffle_free_and_identical(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Embedding sibling of the gram co-location pin."""
    _serving_ladder(
        spark, sf_dir, tmp_path, monkeypatch, "embband", ("base",)
    )


def test_substring_tiered_serving_matches_flat_union(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two-tier gram serving (bucketed base + broadcast delta) equals
    the flat probe over the union vocabulary."""
    _serving_ladder(
        spark, sf_dir, tmp_path, monkeypatch, "grams", ("delta",)
    )


def test_delta_broadcast_size_gate(spark, sf_dir, tmp_path, monkeypatch):
    """The broadcast delta tier of every family is gated on the delta
    partitions' on-disk bytes: above ``DELTA_BROADCAST_MAX_BYTES`` it
    falls back to a plain shuffle join with the same results."""
    for family in D._INDEX_FAMILIES:
        _serving_ladder(
            spark, sf_dir, tmp_path / family, monkeypatch, family, ("gate",)
        )


def test_incremental_span_rows_rejects_ambiguous_vocabulary(spark):
    """Exactly one of corpus / corpus_grams — neither and both are
    programming errors, refused loudly."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.incremental_span_rows(df)
    with pytest.raises(ValueError):
        D.incremental_span_rows(df, df, corpus_grams=df.select(F.col("text").alias("s")))


def test_incremental_span_probe_duplicate_tolerant(spark):
    """The serving probe is a SEMI join: a gram vocabulary with
    repeated rows (the nightly union of per-batch partitions) yields
    the same spans as the distinct vocabulary — no row multiplication,
    no span distortion."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    batch = spark.createDataFrame(
        [(10, f"lead-a lead-b {shared} tail")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, f"c-lead {shared} c-tail")], "doc_id long, text string"
    )
    grams = D.substring_gram_index_rows(corpus)
    doubled = grams.unionByName(grams)
    one = {tuple(r) for r in D.incremental_span_rows(
        batch, corpus_grams=grams).collect()}
    two = {tuple(r) for r in D.incremental_span_rows(
        batch, corpus_grams=doubled).collect()}
    assert one == two == {(10, 2, 11, 10)}


def test_nightly_substring_two_nights(spark, tmp_path):
    """Night 1 seeds the gram index (no prior vocabulary → no spans);
    night 2 reads ONLY the new file: the doc repeating a night-1
    passage gets exactly that maximal span via the STORED index, the
    intra-batch-only repeat does NOT flag (the standing contract),
    the novel doc yields no rows; the ledger makes a third run a
    no-op."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    os.makedirs(src)

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens ≥ SPAN_N=8
    intra = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet",
        [(1, f"c-lead {shared} c-tail"), (2, "nothing shared here at all ok")],
    )
    d1, f1 = nightly_leg(spark, batch, state, "substring")
    assert len(f1) == 1 and d1.count() == 0

    _drop_doc_file(
        spark, tmp_path, src, "n2.parquet",
        [
            (10, f"b-lead-a b-lead-b {shared} b-tail"),
            (20, f"x-a x-b {intra} x-c"),
            (21, f"y-a y-b {intra} y-c"),
            (30, "completely novel material with no repeats anywhere ok2"),
        ],
    )
    d2, f2 = nightly_leg(spark, batch, state, "substring")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]
    got = {r.doc_id: (r.span_start, r.span_end, r.span_tokens)
           for r in d2.collect()}
    assert got == {10: (2, 11, 10)}

    d3, f3 = nightly_leg(spark, batch, state, "substring")
    assert d3 is None and f3 == []

    # night 3: the intra-batch passage from night 2 is NOW corpus
    # vocabulary — tonight's repeat of it flags via the stored index
    _drop_doc_file(
        spark, tmp_path, src, "n3.parquet",
        [(40, f"z-a {intra} z-b")],
    )
    d4, _ = nightly_leg(spark, batch, state, "substring")
    got4 = {r.doc_id: (r.span_start, r.span_end, r.span_tokens)
            for r in d4.collect()}
    assert got4 == {40: (1, 9, 9)}


def test_incremental_strip_planted_semantics(spark):
    """The incremental strip contract on the planted split: the
    cross-split shared passage is excised from the batch doc (its
    surrounding tokens survive), intra-batch-only and fully-novel
    docs pass through untouched."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    intra = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    corpus = spark.createDataFrame(
        [(1, f"c-lead {shared} c-tail")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, f"b-lead-a b-lead-b {shared} b-tail"),
            (20, f"x-a x-b {intra} x-c"),
            (40, "completely novel material with no repeats anywhere ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in D.strip_incremental_spans(batch, corpus).collect()
    }
    assert got[10].n_tokens == 13 and got[10].n_removed == 10
    assert got[10].clean_text == "b-lead-a b-lead-b b-tail"
    assert got[20].n_removed == 0 and got[20].clean_text.startswith("x-a")
    assert got[40].n_removed == 0

    # stored-artifact serving parity
    grams = D.substring_gram_index_rows(corpus)
    via_stored = {
        tuple(r)
        for r in D.strip_incremental_spans(
            batch, corpus_grams=grams
        ).collect()
    }
    assert via_stored == {tuple(r) for r in got.values()}


def test_gram_index_integrity_clean_and_corrupted(spark, tmp_path):
    """The gram-index DQ audit: a two-night nightly index reads
    (n, 0, 0, 0); planting an empty gram, a short (wrong-arity) gram
    and an intra-batch duplicate trips exactly those counters."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    index = str(tmp_path / "state" / "grams")
    os.makedirs(src)
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet", [(1, f"a-lead {shared} a-tail")]
    )
    nightly_leg(spark, batch, state, "substring")
    _drop_doc_file(
        spark, tmp_path, src, "n2.parquet", [(2, f"b-lead {shared} b-tail")]
    )
    nightly_leg(spark, batch, state, "substring")

    clean = D.gram_index_integrity(spark, index).collect()[0]
    n = clean.n_rows
    assert n > 0
    assert (clean.n_null_or_empty, clean.n_wrong_arity,
            clean.n_dup_within_batch) == (0, 0, 0)

    # corruption: an empty gram, a 3-token gram, and a duplicated
    # legitimate 8-gram inside one planted partition
    spark.createDataFrame(
        [("",), ("just three tokens",),
         ("g1 g2 g3 g4 g5 g6 g7 g8",), ("g1 g2 g3 g4 g5 g6 g7 g8",)],
        "s string",
    ).write.mode("overwrite").parquet(
        os.path.join(index, "batch=bcorrupt")
    )
    bad = D.gram_index_integrity(spark, index).collect()[0]
    assert (
        bad.n_rows,
        bad.n_null_or_empty,
        bad.n_wrong_arity,
        bad.n_dup_within_batch,
    ) == (n + 4, 1, 1, 1)


def test_bloom_filter_integrity_clean_and_corrupted(spark, tmp_path):
    """The Bloom-table DQ audit: a two-night nightly filter reads
    (n, 0, 0, 0); planting an out-of-range word, a sign-violating
    word and a zero-bits row trips exactly those counters."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    index = str(tmp_path / "state" / "bloom")
    os.makedirs(src)
    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet",
        [(1, "alpha text one"), (2, "beta text two")],
    )
    nightly_leg(spark, batch, state, "bloom")
    _drop_doc_file(
        spark, tmp_path, src, "n2.parquet", [(3, "gamma text three")]
    )
    nightly_leg(spark, batch, state, "bloom")

    clean = D.bloom_filter_integrity(spark, index).collect()[0]
    n = clean.n_word_rows
    assert n > 0
    assert (clean.n_out_of_range, clean.n_sign_violations,
            clean.n_zero_rows) == (0, 0, 0)

    spark.createDataFrame(
        [
            (D.BLOOM_BITS // D.BLOOM_WORD_BITS + 7, 1),  # out of range
            (5, -1),                                      # sign violation
            (6, 0),                                       # zero bloat
        ],
        "word long, bits long",
    ).write.mode("overwrite").parquet(
        os.path.join(index, "batch=bcorrupt")
    )
    bad = D.bloom_filter_integrity(spark, index).collect()[0]
    assert (
        bad.n_word_rows,
        bad.n_out_of_range,
        bad.n_sign_violations,
        bad.n_zero_rows,
    ) == (n + 3, 1, 1, 1)


def test_nightly_substring_crash_replay_idempotent(spark, tmp_path):
    """Crash between the gram append and the ledger commit: the
    replay reproduces the SAME spans (tonight's own partition is
    excluded from the serving union — otherwise every replayed doc
    probes its own persisted grams and flags itself end-to-end) and
    does not grow the index (keyed overwrite)."""
    import os
    import shutil

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    ledger = str(tmp_path / "state" / "ledger")
    index = str(tmp_path / "state" / "grams")
    os.makedirs(src)

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    _drop_doc_file(
        spark, tmp_path, src, "n1.parquet", [(1, f"c-lead {shared} c-tail")]
    )
    nightly_leg(spark, batch, state, "substring")
    # snapshot the post-night-1 ledger: restoring it simulates a crash
    # AFTER night 2's gram append but BEFORE its ledger commit
    shutil.copytree(ledger, str(tmp_path / "ledger_n1"))

    _drop_doc_file(
        spark, tmp_path, src, "n2.parquet", [(10, f"b-pre {shared} b-post")]
    )
    d2, _ = nightly_leg(spark, batch, state, "substring")
    first = {tuple(r) for r in d2.collect()}
    assert first == {(10, 1, 10, 10)}
    n_rows = spark.read.parquet(index).count()

    shutil.rmtree(ledger)
    shutil.copytree(str(tmp_path / "ledger_n1"), ledger)
    d3, f3 = nightly_leg(spark, batch, state, "substring")
    assert [os.path.basename(f) for f in f3] == ["n2.parquet"]
    assert {tuple(r) for r in d3.collect()} == first
    assert spark.read.parquet(index).count() == n_rows


def test_serving_bench_state_halfwritten_and_lock(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r11 item 4: the shared temp-dir serving state behind
    the bench pair must survive (a) a half-written build — content
    check fails, state is rebuilt — and (b) a concurrent builder —
    the build serializes on the flock, the loser re-checks and
    builds nothing over the winner's live state."""
    import os
    import tempfile
    import threading
    import fcntl

    import mpi_mapreduce_spark.operators.dedup as D

    # isolate the shared state under tmp_path (the table name is
    # derived from the index path, so no catalog collision either)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    index_dir, tbl = D._serving_bench_state(spark, sf_dir)
    assert index_dir.startswith(str(tmp_path))
    assert D._serving_state_ok(spark, index_dir, tbl)
    flat = {
        tuple(r)
        for r in D.substring_serving_flat(spark, sf_dir).collect()
    }
    tiered = {
        tuple(r)
        for r in D.substring_serving_tiered(spark, sf_dir).collect()
    }
    assert flat == tiered

    # (a) half-written: a batch partition holding only in-flight
    # _temporary task attempts is a crashed writer; the content check
    # must reject (hidden-prefixed files don't count) and rebuild
    def _tear_partition(part: str) -> None:
        import shutil

        d = os.path.join(index_dir, part)
        shutil.rmtree(d)
        os.makedirs(os.path.join(d, "_temporary"))
        open(
            os.path.join(d, "_temporary", "part-000.parquet"), "w"
        ).close()

    _tear_partition("batch=b2")
    assert not D._serving_state_ok(spark, index_dir, tbl)
    i2, t2 = D._serving_bench_state(spark, sf_dir)
    assert (i2, t2) == (index_dir, tbl)
    assert D._serving_state_ok(spark, index_dir, tbl)

    # (b) concurrent builder: while another holder owns the flock the
    # rebuild must wait (flock conflicts across distinct fds even in
    # one process); after release it completes and the state is green
    _tear_partition("batch=b2")
    lock_fd = open(f"{index_dir}.lock", "w")
    fcntl.flock(lock_fd, fcntl.LOCK_EX)
    done = threading.Event()
    err: list[BaseException] = []

    def _worker():
        try:
            D._serving_bench_state(spark, sf_dir)
        except BaseException as e:  # pragma: no cover - surfaced below
            err.append(e)
        finally:
            done.set()

    t = threading.Thread(target=_worker, daemon=True)
    t.start()
    assert not done.wait(2.0), "builder ignored a held build lock"
    fcntl.flock(lock_fd, fcntl.LOCK_UN)
    lock_fd.close()
    assert done.wait(120.0), "builder never finished after release"
    t.join(5.0)
    assert not err, err
    assert D._serving_state_ok(spark, index_dir, tbl)


def test_serving_state_fingerprint_gate(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r12 item 6: the bench adopts on-disk serving state via
    metadata-only DDL, trusting the layout matches the running code —
    so the build stamps a schema/content fingerprint sidecar and
    adoption refuses state whose stamp is missing or mismatched,
    REBUILDING instead of timing a stale shape."""
    import json
    import os
    import tempfile

    import mpi_mapreduce_spark.operators.dedup as D

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    index_dir, tbl = D._serving_bench_state(spark, sf_dir)
    fp = os.path.join(index_dir, "_fingerprint.json")
    with open(fp) as f:
        assert json.load(f)["fingerprint"] == D._serving_fingerprint()
    assert D._serving_state_files_ok(spark, index_dir)

    # age the stamp: state "built by" code with a different layout
    with open(fp, "w") as f:
        json.dump({"fingerprint": "0" * 64}, f)
    assert not D._serving_state_files_ok(spark, index_dir)

    # a fresh session (simulated: catalog tables dropped) must NOT
    # adopt the aged state — the construction rebuilds and re-stamps
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_folded")
    i2, t2 = D._serving_bench_state(spark, sf_dir)
    assert (i2, t2) == (index_dir, tbl)
    assert D._serving_state_ok(spark, index_dir, tbl)
    with open(fp) as f:  # only the BUILD path rewrites the sidecar
        assert json.load(f)["fingerprint"] == D._serving_fingerprint()
    assert D._serving_state_files_ok(spark, index_dir)

    # missing sidecar is equally stale (pre-fingerprint state)
    os.remove(fp)
    assert not D._serving_state_files_ok(spark, index_dir)
