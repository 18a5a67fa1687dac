"""Training-pipeline operators: determinism and packing invariants
beyond the DuckDB oracle (which pins exact values at sf0.01)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mpi_mapreduce_spark.operators import training as T


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_split_is_partitioning_invariant(spark, sf_dir):
    """The split must not depend on parallelism: same assignment at
    1 partition and at 32."""
    base = _rows(T.training_split_assign(spark, sf_dir))
    docs = T._docs(spark, sf_dir)
    one = _rows(
        T.with_split(docs.coalesce(1)).select("doc_id", "lang", "bucket", "split")
    )
    many = _rows(
        T.with_split(docs.repartition(32)).select(
            "doc_id", "lang", "bucket", "split"
        )
    )
    assert base == one == many


def test_split_ratios_near_nominal(spark, sf_dir):
    counts = dict(
        (r.split, r["count"])
        for r in T.training_split_assign(spark, sf_dir).groupBy("split").count().collect()
    )
    n = sum(counts.values())
    assert counts.get("train", 0) / n > 0.6
    assert 0 < counts.get("val", 0) / n < 0.25
    assert 0 < counts.get("test", 0) / n < 0.25


def test_packing_covers_every_doc_once_and_bins_are_dense(spark, sf_dir):
    packed = T.training_pack_sequences(spark, sf_dir).collect()
    n_docs = T._docs(spark, sf_dir).count()
    assert len(packed) == n_docs
    assert len({r.doc_id for r in packed}) == n_docs
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        # bin index = floor(start_offset / budget): non-decreasing in
        # doc order and starting at 0 per shard
        bins = [r.bin for r in rows]
        assert bins[0] == 0
        assert all(b1 <= b2 for b1, b2 in zip(bins, bins[1:]))
        # reconstruct start offsets and re-derive the bin
        start = 0
        for r in rows:
            assert r.bin == start // T.PACK_BUDGET
            start += r.n_tokens


def test_contamination_bounded_and_test_only(spark, sf_dir):
    got = T.contamination_check(spark, sf_dir).collect()
    splits = {
        r.doc_id: r.split
        for r in T.training_split_assign(spark, sf_dir).collect()
    }
    assert got, "expected at least one test doc"
    for r in got:
        assert splits[r.doc_id] == "test"
        assert 0 <= r.n_shared <= r.n_shingles
        assert r.contaminated == (2 * r.n_shared >= r.n_shingles)


def test_stratified_sample_is_partitioning_invariant(spark, sf_dir):
    """Same kept set at any parallelism — the coin is row arithmetic,
    not sampleBy()'s partition-dependent RNG."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.training import (
        STRATA_DEFAULT,
        STRATA_KEEP,
        sample_stratified,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = sample_stratified(docs, "lang", STRATA_KEEP, STRATA_DEFAULT)
    b = sample_stratified(
        docs.repartition(17), "lang", STRATA_KEEP, STRATA_DEFAULT
    )
    assert sorted(r.doc_id for r in a.select("doc_id").collect()) == sorted(
        r.doc_id for r in b.select("doc_id").collect()
    )


def test_stratified_sample_downsamples_majority(spark, sf_dir):
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.training import (
        training_sample_stratified,
    )

    totals = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = {
        r.lang: r.n_kept
        for r in training_sample_stratified(spark, sf_dir).collect()
    }
    # en keeps ~25%, tail languages ~80% — allow wide stochastic slack
    assert kept["en"] / totals["en"] < 0.45
    for lang in ("zh", "es", "de", "fr"):
        if lang in kept:
            assert kept[lang] / totals[lang] > 0.55


def test_outlier_iqr_fences_match_numpy_and_flags_consistent(spark, sf_dir):
    import numpy as np

    from mpi_mapreduce_spark.operators.training import training_outlier_iqr

    rows = training_outlier_iqr(spark, sf_dir).collect()
    docs = T._docs(spark, sf_dir)
    assert len(rows) == docs.count()
    lens = np.array([r.n_chars for r in rows])
    q1, q3 = np.percentile(lens, [25, 75], method="linear")
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    r0 = rows[0]
    assert abs(r0.lo_fence - lo) < 1e-9 and abs(r0.hi_fence - hi) < 1e-9
    for r in rows:
        assert r.is_outlier == (r.n_chars < lo or r.n_chars > hi)
    # sanity: Tukey fences never flag a majority
    assert sum(r.is_outlier for r in rows) < len(rows) / 2


def test_winsorize_preserves_rows_and_clips_to_band(spark, sf_dir):
    """Row count unchanged; every output inside [p05, p95]; interior
    values pass through bit-identical; both tails actually clip."""
    from mpi_mapreduce_spark.operators.training import training_winsorize_values

    out = training_winsorize_values(spark, sf_dir).collect()
    from mpi_mapreduce_spark.datamodel import load_table
    ev_n = load_table(spark, sf_dir, "events").count()
    assert len(out) == ev_n
    clipped_lo = clipped_hi = 0
    for r in out:
        if r.value_winsorized > r.value:
            clipped_lo += 1
        elif r.value_winsorized < r.value:
            clipped_hi += 1
        else:
            assert r.value_winsorized == r.value
    # ~5% in each tail by construction
    assert 0.02 * ev_n < clipped_lo < 0.08 * ev_n
    assert 0.02 * ev_n < clipped_hi < 0.08 * ev_n


def test_chunking_reconstructs_documents(spark, sf_dir):
    """Chunks tile each doc: chunk 0 starts at 1; consecutive chunks
    overlap by exactly CHUNK_OVERLAP; stripping the overlap and
    concatenating reconstructs the original text."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.training import (
        CHUNK_LEN,
        CHUNK_OVERLAP,
        training_chunk_documents,
    )

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    by_doc = {}
    for r in training_chunk_documents(spark, sf_dir).collect():
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
        assert len(r.chunk_text) == r.chunk_len <= CHUNK_LEN
    assert by_doc.keys() == texts.keys()
    stride = CHUNK_LEN - CHUNK_OVERLAP
    for doc_id, chunks in by_doc.items():
        ks = sorted(chunks)
        assert ks == list(range(len(ks)))
        rebuilt = chunks[0] + "".join(
            chunks[k][CHUNK_OVERLAP:] for k in ks[1:]
        )
        assert rebuilt == texts[doc_id]
        # every chunk except the last is full-length
        for k in ks[:-1]:
            assert len(chunks[k]) == CHUNK_LEN
            assert chunks[k][stride:] == chunks[k + 1][:CHUNK_OVERLAP]


def test_mixture_resample_hits_exact_group_counts(spark, sf_dir):
    """Kept counts equal the integer-exact targets k_g = w_g*T//100
    with T = min(n_g*100//w_g); no group upsampled; selection is a
    subset of the corpus."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.training import (
        MIXTURE_WEIGHTS,
        training_mixture_resample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    T = min(n[g] * 100 // w for g, w in MIXTURE_WEIGHTS.items())
    expect = {g: w * T // 100 for g, w in MIXTURE_WEIGHTS.items()}
    kept = training_mixture_resample(spark, sf_dir).collect()
    got = {}
    for r in kept:
        got[r.lang] = got.get(r.lang, 0) + 1
    assert got == expect
    for g, k in got.items():
        assert k <= n[g]
    all_ids = {r.doc_id for r in docs.collect()}
    assert {r.doc_id for r in kept} <= all_ids


def test_take_k_per_stratum_exact_and_deterministic(spark, sf_dir):
    """Exactly min(k, stratum size) rows per stratum, and the same set
    on a repartitioned input (parallelism-invariant draw)."""
    import mpi_mapreduce_spark.operators.training as TR
    from pyspark.sql import functions as F

    d = TR._docs(spark, sf_dir).select("doc_id", "lang")
    sizes = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = TR.take_k_per_stratum(d, "lang", 7).collect()
    by_lang: dict[str, set] = {}
    for r in got:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    for lang, n in sizes.items():
        assert len(by_lang.get(lang, set())) == min(7, n), lang
    again = TR.take_k_per_stratum(d.repartition(13), "lang", 7).collect()
    assert {(r.lang, r.doc_id) for r in again} == {
        (r.lang, r.doc_id) for r in got
    }


def test_take_k_salted_equals_single_phase(spark, sf_dir):
    """The two-phase skew-safe draw must return exactly the same rows
    as the single-window form for several k and salt values."""
    import mpi_mapreduce_spark.operators.training as TR

    d = TR._docs(spark, sf_dir).select("doc_id", "lang")
    for k in (1, 7, 50):
        for salt in (2, 16):
            a = {
                (r.lang, r.doc_id)
                for r in TR.take_k_per_stratum(d, "lang", k).collect()
            }
            b = {
                (r.lang, r.doc_id)
                for r in TR.take_k_per_stratum_salted(
                    d, "lang", k, salt=salt
                ).collect()
            }
            assert a == b, (k, salt)


def test_weighted_sample_biases_toward_heavy_docs(spark, sf_dir):
    """Efraimidis–Spirakis draw: exactly k rows, deterministic across
    partitionings, and the weight bias shows (sampled mean n_chars
    exceeds the corpus mean on the fixture)."""
    import mpi_mapreduce_spark.operators.training as TR
    from pyspark.sql import functions as F

    d = TR._docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    k = 30
    got = TR.weighted_sample_k(d, "n_chars", k).collect()
    assert len(got) == min(k, d.count())
    again = TR.weighted_sample_k(d.repartition(11), "n_chars", k).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in got}
    corpus_mean = d.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r.n_chars for r in got) / len(got)
    assert sample_mean > corpus_mean


def test_weighted_per_stratum_exact_sizes(spark, sf_dir):
    """Every stratum yields exactly min(k, size) rows; within each
    stratum the draw is the stratum-restricted global weighted draw."""
    import mpi_mapreduce_spark.operators.training as TR
    from pyspark.sql import functions as F

    d = TR._docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    k = 5
    got = TR.weighted_sample_k_per_stratum(d, "lang", "n_chars", k).collect()
    by_lang: dict = {}
    for r in got:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    sizes = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert len(by_lang.get(lang, set())) == min(k, n), lang
        solo = TR.weighted_sample_k(
            d.where(F.col("lang") == lang), "n_chars", k
        ).collect()
        assert {r.doc_id for r in solo} == by_lang[lang], lang


def test_domain_quota_caps_every_source(spark, sf_dir):
    """No source exceeds the quota among kept docs; every source with
    >= quota docs keeps exactly quota; the mapping covers the corpus."""
    import mpi_mapreduce_spark.operators.training as T

    rows = T.training_domain_quota(spark, sf_dir).collect()
    total = {}
    kept = {}
    for r in rows:
        total[r.source] = total.get(r.source, 0) + 1
        if r.keep:
            kept[r.source] = kept.get(r.source, 0) + 1
        assert r.keep == (r.src_rank <= T.DOMAIN_QUOTA)
    assert sum(total.values()) > 0
    for src, n in total.items():
        assert kept.get(src, 0) == min(n, T.DOMAIN_QUOTA), src


def test_epoch_shard_is_a_permutation_and_epochs_differ(spark):
    """Each epoch's (shard, pos) mapping is a bijection over the
    corpus; positions are dense 1..shard_size; epoch orders differ;
    re-running yields the identical mapping (determinism)."""
    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    out = T.epoch_shard_order(docs, epochs=2, shards=4).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}
    for rows in by_epoch.values():
        assert len(rows) == 200
        assert len({r.doc_id for r in rows}) == 200
        # dense positions within each shard
        shards = {}
        for r in rows:
            shards.setdefault(r.shard, []).append(r.pos)
        for poss in shards.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
    order0 = [(r.shard, r.pos) for r in sorted(by_epoch[0], key=lambda r: r.doc_id)]
    order1 = [(r.shard, r.pos) for r in sorted(by_epoch[1], key=lambda r: r.doc_id)]
    assert order0 != order1  # epochs shuffle differently
    rerun = T.epoch_shard_order(docs, epochs=2, shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, rerun))


def test_token_shard_export_roundtrip(spark, tmp_path):
    """shard_{k}.bin bytes reconstruct every document's token-id
    sequence through the boundary index, ids match a python
    polynomial-hash recount, and EOS separates documents."""
    import os

    import numpy as np

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(10)]
        + [(10, "") , (11, "solo")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "shards")
    manifest, index = T.write_token_shards(docs, out, shards=4)
    man = {r.shard: r for r in manifest.collect()}
    idx = {r.doc_id: r for r in index.collect()}

    def wid(w):
        return sum((i + 1) * ord(c) for i, c in enumerate(w)) % T.FP_MOD + 1

    blobs = {
        s: np.frombuffer(
            open(os.path.join(out, f"shard_{s}.bin"), "rb").read(), "<u4"
        )
        for s in man
    }
    for s, r in man.items():
        assert r.n_bytes == 4 * r.n_ids == 4 * len(blobs[s])
    # doc 10 is token-less: no index entry, no stream rows
    assert 10 not in idx
    for d in list(range(10)) + [11]:
        r = idx[d]
        seq = blobs[r.shard][r.offset : r.offset + r.n_tokens + 1]
        text = f"alpha beta doc{d} gamma" if d <= 9 else "solo"
        want = [wid(w) for w in text.split()] + [T.EOS_ID]
        assert list(seq) == want, (d, list(seq), want)


def test_cluster_safe_split_keeps_neardups_together(spark, sf_dir):
    """Every near-dup component lands entirely on one side; singleton
    placement is identical to the doc-keyed split."""
    out = T.training_split_cluster_safe(spark, sf_dir).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values())
    # at least one real multi-doc cluster exists in the fixture
    from collections import Counter

    sizes = Counter(r.component for r in out)
    assert max(sizes.values()) >= 2
    # singletons: same side as the plain doc-keyed split
    plain = {
        r.doc_id: r.split
        for r in T.training_split_assign(spark, sf_dir).collect()
    }
    for r in out:
        if sizes[r.component] == 1:
            assert r.split == plain[r.doc_id]


def test_dsir_target_like_docs_score_higher(spark):
    from mpi_mapreduce_spark.operators.training import dsir_logweights

    # target source docs speak "alpha beta"; raw pool has one doc in
    # the target's vocabulary and one far from it — the target-like
    # doc must get the higher importance weight
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha", "tgt"),
            (2, "alpha beta beta alpha alpha beta", "tgt"),
            (3, "alpha beta alpha alpha beta", "pool"),
            (4, "zebra quux xylophone grommet flange", "pool"),
        ],
        "doc_id long, text string, source string",
    )
    w = {
        r.doc_id: r.dsir_logweight
        for r in dsir_logweights(docs, target_source="tgt").collect()
    }
    assert w[3] > w[4]


def test_dsir_resample_is_topk_and_deterministic(spark, sf_dir):
    from mpi_mapreduce_spark.operators.training import (
        DSIR_TOPK,
        training_dsir_resample,
    )

    a = training_dsir_resample(spark, sf_dir).collect()
    b = training_dsir_resample(spark, sf_dir).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len(a) == DSIR_TOPK
    scores = [r.dsir_logweight for r in a]
    assert scores == sorted(scores, reverse=True)


def test_quality_logreg_separates_sources(spark):
    from mpi_mapreduce_spark.operators.training import quality_logreg_scores

    # trusted docs speak one vocabulary, raw docs another; after two
    # GD rounds the classifier must rank a trusted-vocab doc above a
    # raw-vocab doc
    rows = []
    for i in range(8):
        rows.append((i, "alpha beta gamma alpha beta gamma", "tgt"))
    for i in range(8, 24):
        rows.append((i, "zebra quux flange grommet zebra quux", "pool"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in quality_logreg_scores(docs, target_source="tgt").collect()}
    assert out[0].prob > out[20].prob
    assert out[0].keep != out[20].keep or out[0].logit > out[20].logit


def test_quality_logreg_deterministic(spark, sf_dir):
    from mpi_mapreduce_spark.operators.training import training_quality_logreg

    a = sorted(
        (r.doc_id, r.logit, r.prob, r.keep)
        for r in training_quality_logreg(spark, sf_dir).collect()
    )
    b = sorted(
        (r.doc_id, r.logit, r.prob, r.keep)
        for r in training_quality_logreg(spark, sf_dir).collect()
    )
    assert a == b
    assert all(0.0 <= p <= 1.0 for _, _, p, _ in a)


def test_quality_logreg_many_rounds_plan_stays_bounded(spark, sf_dir):
    """Every weight-update round references the weight frame about 5×,
    so without re-materialization the plan grows geometrically in
    ``rounds``. With the periodic checkpoint the exchange count
    must grow no faster than linearly, and rounds=10 must build, run
    and match the driver-side GD loop bit for bit."""
    from mpi_mapreduce_spark.functions import exact as ex

    docs = T._docs(spark, sf_dir)

    def n_exchanges(rounds):
        df = T.quality_logreg_scores(docs, rounds=rounds)
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange"
        )

    base = n_exchanges(2)
    assert n_exchanges(10) <= base * 10 / 2

    weights, bias, counts, y = T._logreg_fit(
        docs, T.DSIR_TARGET_SOURCE, T.DSIR_BUCKETS, 10
    )
    logit_q = ex.quantize(F.col("logit"), 6)
    loop_scores = T._logreg_logits(counts, y, weights, bias).select(
        "doc_id",
        logit_q.alias("logit"),
        ex.quantize(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-logit_q)), 6
        ).alias("prob"),
        (logit_q > 0).alias("keep"),
    )
    assert _rows(T.quality_logreg_scores(docs, rounds=10)) == _rows(loop_scores)
