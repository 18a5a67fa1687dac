"""The one-callable nightly curation composite: every maintenance leg
against ONE batch, ONE ledger commit.

Scenarios (the standing nightly-protocol trio, composed):
- two nights: night 1 seeds every index; night 2 flags via STORED
  state across all legs; a third call is a no-op.
- crash BETWEEN legs: a prefix of the legs has written its artifacts
  when the night dies before the ledger commit — the replay reruns
  the whole night and leaves byte-identical state and decisions.
- intra-batch idempotence: same-night duplicates resolve keep-first,
  and a full-night replay reproduces the identical decisions.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mpi_mapreduce_spark.operators import dedup as D
from mpi_mapreduce_spark.operators import nightly as N
from mpi_mapreduce_spark.operators.similarity import PQ_M, PQ_SUBDIM
from tests.conftest import axis_vec as _axis_vec
from tests.conftest import drop_vec_file
from tests.test_dedup import _drop_doc_file

SHARED = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens ≥ SPAN_N=8


def axis_vec(i, wiggle=0.0):
    """Composite fixtures use the PQ-geometry dim (64): a production
    deployment has ONE embedding dim and the PQ leg pins it."""
    return _axis_vec(i, dim=PQ_M * PQ_SUBDIM, wiggle=wiggle)


def _stage(spark, tmp_path, batch, name, docs=None, vecs=None):
    """Stage one night's files under batch_dir/{docs,vecs}."""
    if docs is not None:
        d = os.path.join(batch, N.DOCS_SUBDIR)
        os.makedirs(d, exist_ok=True)
        _drop_doc_file(spark, tmp_path, d, name, docs)
    if vecs is not None:
        v = os.path.join(batch, N.VECS_SUBDIR)
        os.makedirs(v, exist_ok=True)
        drop_vec_file(spark, tmp_path, v, name, vecs)


def _state_rows(spark, state_dir):
    """Logical content of every index leg: {relative dir: sorted row
    tuples} — the byte-identical-state comparator (parquet physical
    bytes carry timestamps; the STATE is the rows)."""
    out = {}
    for leg, sub in N.STATE_SUBDIRS.items():
        d = os.path.join(state_dir, sub)
        from mpi_mapreduce_spark.sources.io import has_committed_parquet

        if leg == "embedding":
            for part in ("bands", "vectors"):
                p = os.path.join(d, part)
                if has_committed_parquet(spark, p):
                    out[f"{leg}/{part}"] = sorted(
                        map(tuple, spark.read.parquet(p).collect())
                    )
        elif leg in ("ivf", "pq", "ann_lsh"):
            subparts = {
                "ivf": ("centroids", "cells"),
                "pq": ("codebooks", "codes"),
                "ann_lsh": ("buckets",),
            }[leg]
            for part in subparts:
                p = os.path.join(d, part)
                if has_committed_parquet(spark, p):
                    out[f"{leg}/{part}"] = sorted(
                        map(tuple, spark.read.parquet(p).collect())
                    )
        elif has_committed_parquet(spark, d):
            out[leg] = sorted(map(tuple, spark.read.parquet(d).collect()))
    return out


def _decisions(result):
    return {
        leg: sorted(map(tuple, df.collect())) for leg, df in result.items()
    }


def test_nightly_composite_two_nights(spark, tmp_path):
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    r1, f1 = N.nightly_curation_update(spark, batch, state)
    assert len(f1) == 2  # one docs file + one vecs file, ONE commit
    assert set(r1) == {
        "bloom", "minhash", "substring", "cms", "embedding", "ivf", "pq",
        "ann_lsh",
    }
    # night 1: nothing stored yet — everything novel / kept / span-free
    assert {r.doc_id: r.novel for r in r1["bloom"].collect()} == {
        1: True, 2: True
    }
    assert {r.doc_id: r.keep for r in r1["minhash"].collect()} == {
        1: True, 2: True
    }
    assert r1["substring"].count() == 0
    assert {r.vec_id: r.keep for r in r1["embedding"].collect()} == {
        1: True, 2: True
    }

    _stage(
        spark, tmp_path, batch, "n2.parquet",
        docs=[
            (10, "beta text two words"),            # exact copy of doc 2
            (11, f"b-pre {SHARED} b-post"),         # repeats night-1 passage
            (12, "completely novel stuff here ok"),
        ],
        vecs=[(10, axis_vec(0, wiggle=0.04)), (11, axis_vec(2))],
    )
    r2, f2 = N.nightly_curation_update(spark, batch, state)
    assert sorted(os.path.basename(f) for f in f2) == [
        "n2.parquet", "n2.parquet"
    ]
    bloom2 = {r.doc_id: r.bloom_seen for r in r2["bloom"].collect()}
    assert bloom2[10] is True  # exact copy: no false negative
    mh2 = {r.doc_id: r.is_near_dup for r in r2["minhash"].collect()}
    assert mh2[10] is True and mh2[12] is False
    spans2 = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in r2["substring"].collect()
    }
    assert spans2.get(11) == (1, 10, 10)
    emb2 = {r.vec_id: r.keep for r in r2["embedding"].collect()}
    assert emb2 == {10: False, 11: True}

    r3, f3 = N.nightly_curation_update(spark, batch, state)
    assert r3 is None and f3 == []


def test_nightly_composite_crash_between_legs_replays_identically(
    spark, tmp_path
):
    """Kill the night after a PREFIX of the legs has written (bloom +
    minhash done, rest not, ledger uncommitted): the replay reruns
    everything with the same batch key and leaves state and decisions
    identical to a crash-free night."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    N.nightly_curation_update(spark, batch, state)

    _stage(
        spark, tmp_path, batch, "n2.parquet",
        docs=[(10, "beta text two words"), (11, f"b-pre {SHARED} b-post")],
        vecs=[(10, axis_vec(0, wiggle=0.04))],
    )
    # --- the crash-free reference night, on a cloned state dir ---
    ref_state = str(tmp_path / "ref_state")
    shutil.copytree(state, ref_state)
    ref, _ = N.nightly_curation_update(spark, batch, ref_state)
    ref_rows = _state_rows(spark, ref_state)
    ref_dec = _decisions(ref)

    # --- the crashed night: run only a prefix of the legs, by hand,
    # with the composite's own batch key; no ledger commit ---
    from mpi_mapreduce_spark.sources.io import list_new_files

    ledger = os.path.join(state, N.LEDGER_SUBDIR)
    doc_files = list_new_files(
        spark, os.path.join(batch, N.DOCS_SUBDIR), ledger, ".parquet"
    )
    # text legs key on the DOC file list (per-modality keys since
    # ADVICE r9); the replay recomputes the same key and overwrites
    bkey = N._batch_key(doc_files)
    docs = spark.read.parquet(*doc_files)
    D._nightly_bloom_core(
        spark, docs, bkey, os.path.join(state, N.STATE_SUBDIRS["bloom"])
    )
    D._nightly_minhash_core(
        spark, docs, bkey, os.path.join(state, N.STATE_SUBDIRS["minhash"])
    )
    # CRASH here — substring/cms/embedding/ivf never ran, no commit

    got, files = N.nightly_curation_update(spark, batch, state)
    assert sorted(os.path.basename(f) for f in files) == [
        "n2.parquet", "n2.parquet"
    ]
    assert _decisions(got) == ref_dec
    assert _state_rows(spark, state) == ref_rows

    # and the night is committed exactly once
    again, f_again = N.nightly_curation_update(spark, batch, state)
    assert again is None and f_again == []


def test_nightly_composite_replay_after_new_file_lands(spark, tmp_path):
    """The ADVICE-r9 hazard: a night crashes before its ledger commit,
    then a NEW file (of the OTHER modality, and then of the same one)
    lands before the replay. The crashed partials carry a key the
    replay can't reproduce; reconciliation must drop them so the
    replayed night equals a crash-free run over the grown file set —
    no self-duplicate flagging, no CMS double-count."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    N.nightly_curation_update(spark, batch, state)

    # night 2 part 1: one docs file; the night runs the text legs but
    # crashes before the ledger commit — emulate with the cores under
    # night-2-part-1's own doc key
    _stage(
        spark, tmp_path, batch, "n2.parquet",
        docs=[(10, "beta text two words"), (11, f"b-pre {SHARED} b-post")],
    )
    from mpi_mapreduce_spark.sources.io import list_new_files

    ledger = os.path.join(state, N.LEDGER_SUBDIR)
    doc_files_1 = list_new_files(
        spark, os.path.join(batch, N.DOCS_SUBDIR), ledger, ".parquet"
    )
    crashed_key = N._batch_key(doc_files_1)
    docs1 = spark.read.parquet(*doc_files_1)
    for leg, core in (
        ("bloom", D._nightly_bloom_core),
        ("minhash", D._nightly_minhash_core),
        ("substring", D._nightly_substring_core),
    ):
        core(spark, docs1, crashed_key, os.path.join(
            state, N.STATE_SUBDIRS[leg]
        ))
    from mpi_mapreduce_spark.operators.sketches import _nightly_cms_core

    _nightly_cms_core(
        spark, docs1, crashed_key, os.path.join(
            state, N.STATE_SUBDIRS["cms"]
        )
    )
    # CRASH — then a vecs file AND another docs file land in batch_dir
    _stage(
        spark, tmp_path, batch, "n2b.parquet",
        docs=[(12, "completely novel stuff here ok")],
        vecs=[(10, axis_vec(0, wiggle=0.04))],
    )

    # crash-free reference: same grown batch over the pre-crash state
    # (clone taken AFTER night 1, i.e. without the crashed partials)
    ref_state = str(tmp_path / "ref_state")
    shutil.copytree(state, ref_state)
    for leg in ("bloom", "minhash", "substring", "cms"):
        d = os.path.join(ref_state, N.STATE_SUBDIRS[leg])
        p = os.path.join(d, f"batch={crashed_key}")
        if os.path.isdir(p):
            shutil.rmtree(p)
    ref, _ = N.nightly_curation_update(spark, batch, ref_state)
    ref_dec = _decisions(ref)
    ref_rows = _state_rows(spark, ref_state)

    # the replay over the crashed state: reconciliation drops the
    # orphaned crashed_key partitions up front
    got, files = N.nightly_curation_update(spark, batch, state)
    assert sorted(os.path.basename(f) for f in files) == [
        "n2.parquet", "n2b.parquet", "n2b.parquet"
    ]
    for leg in ("bloom", "minhash", "substring", "cms"):
        assert not os.path.isdir(os.path.join(
            state, N.STATE_SUBDIRS[leg], f"batch={crashed_key}"
        )), leg
    # doc 10 is an exact night-1 copy (dup), docs 11 spans night-1
    # text, doc 12 is novel — the crashed partials must NOT flag the
    # batch against itself
    bloom = {r.doc_id: r.bloom_seen for r in got["bloom"].collect()}
    assert bloom[10] is True and bloom[12] is False
    assert _decisions(got) == ref_dec
    assert _state_rows(spark, state) == ref_rows

    again, f_again = N.nightly_curation_update(spark, batch, state)
    assert again is None and f_again == []


def test_reconcile_batch_partitions_legacy_ledger_is_untouched(
    spark, tmp_path
):
    """A ledger written before the batch_key column (NULL keys on
    read) disables reconciliation entirely: committed partitions
    can't be told from orphans, so nothing may be dropped."""
    from mpi_mapreduce_spark.sources.io import (
        reconcile_batch_partitions,
    )

    ledger = str(tmp_path / "ledger")
    idx = str(tmp_path / "idx")
    # legacy two-column ledger file
    spark.createDataFrame(
        [("/some/file.parquet", 123)], "file_path string, file_size long"
    ).write.parquet(ledger)
    spark.createDataFrame([("g1 g2",)], "s string").write.parquet(
        os.path.join(idx, "batch=bOLD")
    )
    dropped = reconcile_batch_partitions(spark, ledger, [idx], {"bNEW"})
    assert dropped == []
    assert os.path.isdir(os.path.join(idx, "batch=bOLD"))


def test_nightly_composite_intra_batch_and_full_replay(spark, tmp_path):
    """Same-night duplicates resolve keep-first in every text leg,
    and replaying the FULL night (ledger rolled back after a complete
    run — the crash-before-commit case) reproduces identical
    decisions and state."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[
            (1, "same text here indeed"),
            (2, "same text here indeed"),
            (3, "other text entirely now"),
        ],
        vecs=[(1, axis_vec(0)), (2, axis_vec(0, wiggle=0.01))],
    )
    # snapshot the (absent) pre-night ledger state
    r1, _ = N.nightly_curation_update(spark, batch, state)
    first_dec = _decisions(r1)
    first_rows = _state_rows(spark, state)
    assert {r.doc_id: r.seen_in_batch for r in r1["bloom"].collect()} == {
        1: False, 2: True, 3: False
    }
    assert {r.vec_id: r.keep for r in r1["embedding"].collect()} == {
        1: True, 2: False
    }

    # roll the ledger back: a crash after every leg but before commit
    shutil.rmtree(os.path.join(state, N.LEDGER_SUBDIR))
    r2, _ = N.nightly_curation_update(spark, batch, state)
    assert _decisions(r2) == first_dec
    assert _state_rows(spark, state) == first_rows


def test_nightly_composite_single_modality_nights(spark, tmp_path):
    """A docs-only night runs only the text legs; a vecs-only night
    only the vector legs; an empty batch dir is a no-op."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    r0, f0 = N.nightly_curation_update(spark, batch, state)
    assert r0 is None and f0 == []

    _stage(spark, tmp_path, batch, "n1.parquet",
           docs=[(1, "only text tonight folks")])
    r1, _ = N.nightly_curation_update(spark, batch, state)
    assert set(r1) == {"bloom", "minhash", "substring", "cms"}

    _stage(spark, tmp_path, batch, "n2.parquet",
           vecs=[(1, axis_vec(0))])
    r2, _ = N.nightly_curation_update(spark, batch, state)
    assert set(r2) == {"embedding", "ivf", "pq", "ann_lsh"}


def test_nightly_composite_legs_selection(spark, tmp_path, monkeypatch):
    """``legs=`` runs only the named legs and lists, keys, reconciles
    and commits only their modalities: an unselected modality's files
    stay uncommitted for a later run. A bad selection fails before
    anything is listed or written."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    doc_file = os.path.join(batch, N.DOCS_SUBDIR, "n1.parquet")
    vec_file = os.path.join(batch, N.VECS_SUBDIR, "n1.parquet")

    def committed(state_dir):
        ledger = os.path.join(state_dir, N.LEDGER_SUBDIR)
        return {r.file_path for r in spark.read.parquet(ledger).collect()}

    def no_listing(*_a, **_k):
        raise AssertionError("listed before the selection was checked")

    with monkeypatch.context() as m:
        m.setattr(N, "ingest_incremental", no_listing)
        for bad in (("nope",), ()):
            with pytest.raises(ValueError):
                N.nightly_curation_update(spark, batch, state, legs=bad)
    assert not os.path.exists(state)

    r1, f1 = N.nightly_curation_update(
        spark, batch, state, legs=("bloom", "ivf")
    )
    assert set(r1) == {"bloom", "ivf"}
    assert sorted(f1) == [doc_file, vec_file]
    assert committed(state) == {doc_file, vec_file}
    assert sorted(os.listdir(state)) == sorted(
        [N.LEDGER_SUBDIR, N.STATE_SUBDIRS["bloom"], N.STATE_SUBDIRS["ivf"]]
    )

    # a vector-only selection on a fresh state leaves the doc file
    # unreturned and uncommitted; a later full run ingests it
    fresh = str(tmp_path / "fresh")
    r2, f2 = N.nightly_curation_update(spark, batch, fresh, legs=("ivf",))
    assert set(r2) == {"ivf"} and f2 == [vec_file]
    assert committed(fresh) == {vec_file}
    r3, f3 = N.nightly_curation_update(spark, batch, fresh)
    assert set(r3) == {"bloom", "minhash", "substring", "cms"}
    assert f3 == [doc_file]
    assert committed(fresh) == {doc_file, vec_file}


def test_curation_state_audit_clean_and_corrupted(spark, tmp_path):
    """The composite state audit: after a two-modality night every
    present leg reports zero violations; planting one corruption per
    auditable family trips exactly those counters. Empty state yields
    an empty (schema-stable) frame."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    empty = N.curation_state_audit(spark, state)
    assert empty.count() == 0
    assert empty.columns == ["leg", "counter", "value"]

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    N.nightly_curation_update(spark, batch, state)

    audit = {
        (r.leg, r.counter): r.value
        for r in N.curation_state_audit(spark, state).collect()
    }
    assert {leg for leg, _ in audit} == {
        "grams", "bloom", "embedding", "minhash", "cms", "ivf", "pq",
        "ann_lsh", "ledger",
    }
    violation_keys = [
        ("grams", "n_null_or_empty"),
        ("grams", "n_wrong_arity"),
        ("grams", "n_dup_within_batch"),
        ("bloom", "n_out_of_range"),
        ("bloom", "n_sign_violations"),
        ("embedding", "n_orphan_band_rows"),
        ("embedding", "n_incomplete_vectors"),
        ("embedding", "n_stale_band_rows"),
        ("minhash", "n_incomplete_signatures"),
        ("cms", "n_nonpositive_cells"),
        ("ivf", "n_orphan_cell_rows"),
        ("pq", "n_out_of_range_codes"),
        ("pq", "n_incomplete_vectors"),
        ("ann_lsh", "n_out_of_range_buckets"),
        ("ann_lsh", "n_multi_bucket_vectors"),
        ("ledger", "n_duplicate_entries"),
    ]
    for k in violation_keys:
        assert audit[k] == 0, k

    # plant one corruption in the grams leg and one orphan IVF cell
    import os

    spark.createDataFrame([("short gram",)], "s string").write.mode(
        "overwrite"
    ).parquet(os.path.join(state, N.STATE_SUBDIRS["substring"], "batch=bx"))
    spark.createDataFrame(
        [(999, 10**6, 0.5)], "vec_id long, cell int, cosine double"
    ).write.mode("overwrite").parquet(
        os.path.join(state, N.STATE_SUBDIRS["ivf"], "cells", "batch=bx")
    )
    # and a serving base left under a name no compacted leg uses (the
    # pre-rename gram base) beside a live base and its fold ledger
    for d in ("grams", "substring", "substring_folded"):
        os.makedirs(os.path.join(state, N.SERVING_SUBDIR, d))
    bad = {
        (r.leg, r.counter): r.value
        for r in N.curation_state_audit(spark, state).collect()
    }
    assert bad[("grams", "n_wrong_arity")] == 1
    assert bad[("ivf", "n_orphan_cell_rows")] == 1
    assert bad[("serving", "n_orphan_dirs")] == 1


def _drop_serving_tables(spark, state):
    """Drop the derived serving base + fold-ledger tables a test's
    weekly_curation_compaction created (names are path-hashed, so
    leaks would pile up in the shared warehouse)."""
    for _, sub, fam in N.COMPACTED_INDEXES:
        t = D._serving_table(os.path.join(state, sub), fam)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}_folded")


def test_nightly_composite_two_tier_equals_flat_after_compaction(
    spark, tmp_path
):
    """VERDICT r10 item 1 — the serving loop wired INTO the composite:
    night-2 decisions and index state are byte-identical with and
    without a weekly_curation_compaction between the nights, and the
    EXACT probes the composite's cores run (the factored _*_cross_*
    helpers) plan through the bucketed co-located base — plus the
    broadcast delta tier once a post-compaction partition lands."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    N.nightly_curation_update(spark, batch, state)

    # crash-free flat reference: clone BEFORE the compaction
    ref_state = str(tmp_path / "ref_state")
    shutil.copytree(state, ref_state)

    try:
        folded = N.weekly_curation_compaction(spark, state)
        assert folded == {"substring": 1, "minhash": 1, "embedding": 1}

        _stage(
            spark, tmp_path, batch, "n2.parquet",
            docs=[
                (10, "beta text two words"),      # exact copy of doc 2
                (11, f"b-pre {SHARED} b-post"),   # repeats night-1 passage
                (12, "completely novel stuff here ok"),
            ],
            vecs=[(10, axis_vec(0, wiggle=0.04)), (11, axis_vec(2))],
        )
        # same batch dir for both runs (the ledger keys on absolute
        # file paths); each state dir has its own ledger
        r_tier, _ = N.nightly_curation_update(spark, batch, state)
        r_flat, _ = N.nightly_curation_update(spark, batch, ref_state)
        assert _decisions(r_tier) == _decisions(r_flat)
        assert _state_rows(spark, state) == _state_rows(spark, ref_state)
        # the tiered night really flagged the planted dups
        mh = {r.doc_id: r.is_near_dup for r in r_tier["minhash"].collect()}
        assert mh[10] is True and mh[12] is False
        spans = {r.doc_id for r in r_tier["substring"].collect()}
        assert 11 in spans
        emb = {r.vec_id: r.keep for r in r_tier["embedding"].collect()}
        assert emb[10] is False

        # plan-assert the probes the cores run, against this exact
        # state: night-1 folded (base), night-2 committed since
        # (delta), probe key is a fresh night's
        grams_dir = os.path.join(state, N.STATE_SUBDIRS["substring"])
        probe_docs = spark.createDataFrame(
            [(90, f"x-lead {SHARED} x-tail")], "doc_id long, text string"
        )
        plan = (
            D._gram_cross_spans(spark, probe_docs, grams_dir, "bPROBE")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan, plan
        assert "BroadcastHashJoin" in plan, plan

        sig_dir = os.path.join(state, N.STATE_SUBDIRS["minhash"])
        bands_b = D.minhash_band_keys(
            D.minhash_signature_table(D.shingle_rows(probe_docs))
        ).select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
        plan = (
            D._minhash_cross_candidates(spark, bands_b, sig_dir, "bPROBE")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan, plan
        assert "BroadcastHashJoin" in plan, plan

        emb_bands = os.path.join(
            state, N.STATE_SUBDIRS["embedding"], "bands"
        )
        bb = D.embedding_band_rows(
            spark.createDataFrame(
                [(90, axis_vec(3))], "vec_id long, v array<double>"
            ),
            dim=PQ_M * PQ_SUBDIM,
        ).select(F.col("vec_id").alias("vec_a"), "band", "bucket")
        plan = (
            D._embedding_cross_candidates(spark, bb, emb_bands, "bPROBE")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
    finally:
        _drop_serving_tables(spark, state)


def test_nightly_composite_replay_on_two_tier_rung(spark, tmp_path):
    """Crash replay on the two-tier serving rung: night 1, a weekly
    compaction, then night 2 dies after every leg wrote its partitions
    but before the ledger commit. The replay finds night 1 in the
    bucketed base and tonight's own partitions on disk where a delta
    would be — they must be excluded, or every replayed doc probes its
    own rows and is flagged as a duplicate of itself. Decisions and
    index state equal the crash-free night 2."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    ledger = os.path.join(state, N.LEDGER_SUBDIR)

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
        vecs=[(1, axis_vec(0)), (2, axis_vec(1))],
    )
    N.nightly_curation_update(spark, batch, state)
    try:
        folded = N.weekly_curation_compaction(spark, state)
        assert folded == {"substring": 1, "minhash": 1, "embedding": 1}
        ledger_night1 = str(tmp_path / "ledger_night1")
        shutil.copytree(ledger, ledger_night1)

        _stage(
            spark, tmp_path, batch, "n2.parquet",
            docs=[
                (10, "beta text two words"),      # exact copy of doc 2
                (11, f"b-pre {SHARED} b-post"),   # repeats night-1 passage
                (12, "completely novel stuff here ok"),
            ],
            vecs=[(10, axis_vec(0, wiggle=0.04)), (11, axis_vec(2))],
        )
        ref, ref_files = N.nightly_curation_update(spark, batch, state)
        ref_dec = _decisions(ref)
        ref_rows = _state_rows(spark, state)

        # roll back night 2's ledger commit: its partitions stay behind
        shutil.rmtree(ledger)
        shutil.copytree(ledger_night1, ledger)
        got, files = N.nightly_curation_update(spark, batch, state)
        assert sorted(files) == sorted(ref_files)
        assert _decisions(got) == ref_dec
        assert _state_rows(spark, state) == ref_rows
        mh = {r.doc_id: r.is_near_dup for r in got["minhash"].collect()}
        assert mh[10] is True and mh[12] is False
        spans = {
            r.doc_id: (r.span_start, r.span_end)
            for r in got["substring"].collect()
        }
        assert spans.get(11) == (1, 10)
        emb = {r.vec_id: r.keep for r in got["embedding"].collect()}
        assert emb == {10: False, 11: True}
    finally:
        _drop_serving_tables(spark, state)


def test_weekly_compaction_never_folds_uncommitted_partials(
    spark, tmp_path
):
    """ADVICE r10 (medium): a night crashes BEFORE its ledger commit
    leaving batch partitions on disk; a weekly compaction runs between
    the crash and the replay. The compaction must fold only
    ledger-COMMITTED partitions — folding the partial would bake the
    crashed night's grams/bands into the serving base, where the
    replayed batch probes a base containing itself and every replayed
    doc is wrongly flagged as a duplicate (and reconcile, which later
    drops the orphan partition, cannot un-fold a base)."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")

    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
    )
    N.nightly_curation_update(spark, batch, state)

    _stage(
        spark, tmp_path, batch, "n2.parquet",
        docs=[(11, f"b-pre {SHARED} b-post"),
              (12, "completely novel stuff here ok")],
    )
    # crash-free reference on a cloned state (no crash, no
    # compaction); same batch dir — the ledger keys on absolute paths
    ref_state = str(tmp_path / "ref_state")
    shutil.copytree(state, ref_state)
    ref, _ = N.nightly_curation_update(spark, batch, ref_state)
    ref_dec = _decisions(ref)

    # the crashed night: substring + minhash legs written, no commit
    from mpi_mapreduce_spark.sources.io import list_new_files

    ledger = os.path.join(state, N.LEDGER_SUBDIR)
    doc_files = list_new_files(
        spark, os.path.join(batch, N.DOCS_SUBDIR), ledger, ".parquet"
    )
    bkey = N._batch_key(doc_files)
    docs = spark.read.parquet(*doc_files)
    D._nightly_substring_core(
        spark, docs, bkey, os.path.join(state, N.STATE_SUBDIRS["substring"])
    )
    D._nightly_minhash_core(
        spark, docs, bkey, os.path.join(state, N.STATE_SUBDIRS["minhash"])
    )
    # CRASH here; then the weekly compaction fires on schedule
    try:
        folded = N.weekly_curation_compaction(spark, state)
        # only night 1 is committed — the crashed partial is NOT folded
        assert folded["substring"] == 1 and folded["minhash"] == 1
        grams_dir = os.path.join(state, N.STATE_SUBDIRS["substring"])
        tbl = D._serving_table(grams_dir, "grams")
        assert {
            r.batch_key for r in spark.table(f"{tbl}_folded").collect()
        } != {bkey} and bkey not in {
            r.batch_key for r in spark.table(f"{tbl}_folded").collect()
        }

        # the replayed night equals the crash-free flat reference —
        # in particular doc 12 (novel) is NOT flagged against the
        # crashed partial's own grams/signatures
        got, _ = N.nightly_curation_update(spark, batch, state)
        assert _decisions(got) == ref_dec
    finally:
        _drop_serving_tables(spark, state)


def test_weekly_compaction_legacy_ledger_folds_nothing(spark, tmp_path):
    """Under a legacy ledger (NULL batch_key rows) committed
    partitions are indistinguishable from crashed partials, so the
    compaction folds NOTHING (serving stays flat — slower, never
    wrong), mirroring reconcile's drop-nothing gate."""
    ledger = str(tmp_path / "ledger")
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [("/some/file.parquet", 123)], "file_path string, file_size long"
    ).write.parquet(ledger)
    spark.createDataFrame([("g1 g2 g3 g4 g5 g6 g7 g8",)], "s string").write.parquet(
        os.path.join(idx, "batch=bOLD")
    )
    base = str(tmp_path / "base")
    assert D.weekly_index_compaction(spark, idx, "grams", ledger, base) == 0
    assert not spark.catalog.tableExists(D._serving_table(idx, "grams"))


def test_maybe_weekly_compaction_policy(spark, tmp_path, monkeypatch):
    """The delta-count trigger: below the threshold it's a no-op;
    past it, one fold runs; uncommitted partials don't count toward
    the trigger (and never fold)."""
    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    _stage(
        spark, tmp_path, batch, "n1.parquet",
        docs=[(1, f"c-lead {SHARED} c-tail")],
    )
    N.nightly_curation_update(spark, batch, state)
    try:
        # one committed delta, threshold 7: no-op
        assert (
            N.maybe_weekly_curation_compaction(spark, state) is None
        )
        # threshold 0: any committed delta triggers the fold
        monkeypatch.setattr(N, "MAX_DELTAS", 0)
        folded = N.maybe_weekly_curation_compaction(spark, state)
        assert folded is not None and folded["substring"] == 1
        # everything folded: trigger is quiet again even at 0
        assert N.maybe_weekly_curation_compaction(spark, state) is None
        # an uncommitted partial lands (crashed night): still quiet —
        # partials are reconciliation's problem, not compaction's
        import pyspark.sql.functions as F  # noqa: N812

        grams = os.path.join(state, N.STATE_SUBDIRS["substring"])
        D.substring_gram_index_rows(
            spark.createDataFrame(
                [(99, f"z-pre {SHARED} z-post")], "doc_id long, text string"
            )
        ).write.mode("overwrite").parquet(
            os.path.join(grams, "batch=bCRASH")
        )
        assert N.maybe_weekly_curation_compaction(spark, state) is None
    finally:
        _drop_serving_tables(spark, state)


def test_reconcile_ledger_gate_uses_hadoop_fs(spark, tmp_path):
    """ADVICE r12 (medium): the ledger presence gate must read the
    ledger through the SAME Hadoop FileSystem API as the partition
    walk. A ``file:`` scheme URI is the in-container proxy for a
    non-local filesystem: the old ``os.listdir`` gate saw it as
    absent (committed=∅, legacy=False), so reconcile's safety gate
    passed and deleted every committed non-current partition."""
    from mpi_mapreduce_spark.sources.io import (
        committed_batch_keys,
        record_ingested,
        reconcile_batch_partitions,
    )

    ledger = str(tmp_path / "ledger")
    idx = str(tmp_path / "idx")
    f = tmp_path / "n1.txt"
    f.write_text("payload")
    record_ingested(spark, ledger, [str(f)], batch_key="bOLD")
    spark.createDataFrame([("g1 g2",)], "s string").write.parquet(
        os.path.join(idx, "batch=bOLD")
    )

    ledger_uri = f"file:{ledger}"
    committed, legacy = committed_batch_keys(spark, ledger_uri)
    assert committed == {"bOLD"} and not legacy

    # the committed partition must survive a reconcile whose ledger
    # arrives as a URI (both sides now see the same filesystem)
    dropped = reconcile_batch_partitions(
        spark, ledger_uri, [idx], {"bNEW"}
    )
    assert dropped == []
    assert os.path.isdir(os.path.join(idx, "batch=bOLD"))


def test_curation_state_audit_torn_ledger_reads_as_absent(spark, tmp_path):
    """A TORN ledger write — one that died before commit, leaving only
    a dot-staged ``.part-*`` file a direct committer renames on commit
    — is no ledger: the audit reports no ledger rows instead of
    reading the directory without a schema and dying with
    UNABLE_TO_INFER_SCHEMA (the ADVICE r8 bug class of
    has_committed_parquet, in the audit's own gate)."""
    state = str(tmp_path / "state")
    ledger = os.path.join(state, N.LEDGER_SUBDIR)
    os.makedirs(ledger)
    open(os.path.join(ledger, ".part-00000.snappy.parquet"), "w").close()
    open(os.path.join(ledger, "_SUCCESS"), "w").close()

    audit = N.curation_state_audit(spark, state).collect()
    assert [r for r in audit if r.leg == "ledger"] == []


def test_nightly_composite_file_uri_dirs_equal_plain_paths(spark, tmp_path):
    """``file:`` URIs for batch_dir and state_dir (the in-container
    proxy for a non-local filesystem) see the same files as plain
    paths: two nights give the same per-leg decisions and state rows,
    and the state audit reports zero violations. Batch keys hash the
    ingested path strings, so state rows compare with each run's keys
    replaced by (night, modality) labels."""

    def run(root, uri):
        os.makedirs(root)
        batch, state = os.path.join(root, "batch"), os.path.join(root, "state")
        prefix = "file:" if uri else ""
        decisions, labels = [], {}
        nights = [
            (
                [(1, f"c-lead {SHARED} c-tail"), (2, "beta text two words")],
                [(1, axis_vec(0)), (2, axis_vec(1))],
            ),
            (
                [
                    (10, "beta text two words"),
                    (11, f"b-pre {SHARED} b-post"),
                    (12, "completely novel stuff here ok"),
                ],
                [(10, axis_vec(0, wiggle=0.04)), (11, axis_vec(2))],
            ),
        ]
        for night, (docs, vecs) in enumerate(nights, 1):
            _stage(
                spark, tmp_path, batch, f"n{night}.parquet",
                docs=docs, vecs=vecs,
            )
            result, files = N.nightly_curation_update(
                spark, prefix + batch, prefix + state
            )
            assert len(files) == 2
            decisions.append(_decisions(result))
            for sub in (N.DOCS_SUBDIR, N.VECS_SUBDIR):
                key = N._batch_key([f for f in files if f"/{sub}/" in f])
                labels[key] = f"night{night}-{sub}"
        rows = {
            leg: sorted(
                tuple(labels.get(v, v) if isinstance(v, str) else v for v in r)
                for r in leg_rows
            )
            for leg, leg_rows in _state_rows(spark, state).items()
        }
        audit = N.curation_state_audit(spark, prefix + state).collect()
        return decisions, rows, audit

    plain = run(str(tmp_path / "plain"), uri=False)
    uri = run(str(tmp_path / "uri"), uri=True)
    assert uri[0] == plain[0]
    assert uri[1] == plain[1]
    assert {(r.leg, r.counter) for r in uri[2]} == {
        (r.leg, r.counter) for r in plain[2]
    }
    size_counters = {
        "n_rows", "n_word_rows", "n_vectors", "n_band_rows", "n_signatures",
        "n_cell_rows", "n_bucket_rows", "n_codebook_rows", "n_code_rows",
        "n_centroids", "n_files",
    }
    violations = {
        (r.leg, r.counter): r.value
        for r in uri[2]
        if r.counter not in size_counters and r.value != 0
    }
    assert violations == {}
    assert {(r.leg, r.counter): r.value for r in uri[2]}[
        ("ledger", "n_files")
    ] == 4
