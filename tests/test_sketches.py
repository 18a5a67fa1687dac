"""HLL sketch table: accuracy bound and merge-equals-direct identity."""

from __future__ import annotations

from pyspark.sql import functions as F

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.operators import sketches as SK
from mpi_mapreduce_spark.operators.sketches import (
    LG_K,
    daily_user_sketches,
    events_hll_user_rollup,
    hll_user_rollup_estimates,
)
from tests.conftest import nightly_leg


def test_hll_rollup_within_error_bound(spark, sf_dir):
    """lgK=12 → ±1.6% RSE; assert a generous 5% against exact."""
    est = {
        r.event_type: r.est_users
        for r in hll_user_rollup_estimates(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(1, 0.05 * n)


def test_hll_union_of_dailies_equals_direct_sketch(spark, sf_dir):
    """Register-wise max is associative: the rollup of daily sketches
    must estimate exactly what one direct sketch over the raw rows
    estimates — the property that makes sketch tables re-aggregable."""
    ev = load_table(spark, sf_dir, "events")
    merged = {
        r.event_type: r.est
        for r in daily_user_sketches(ev)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .collect()
    }
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(LG_K))
            ).alias("est")
        )
        .collect()
    }
    assert merged == direct


def test_sketch_table_round_trips_through_parquet(spark, sf_dir, tmp_path):
    """The stored-sketch workflow: persist daily sketches as a parquet
    table, read back, union-rollup — estimates identical to the
    in-memory path (binary column survives storage bit-exact)."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "sketches")
    daily_user_sketches(ev).write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    from_disk = {
        r.event_type: r.est
        for r in stored.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    in_mem = {
        r.event_type: r.est
        for r in daily_user_sketches(ev)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    assert from_disk == in_mem


def test_quantile_sketch_numpy_recount_and_merge_identity(spark, sf_dir):
    """Estimates and exact order statistics match a numpy recount;
    merging daily histograms equals histogramming the whole table."""
    import numpy as np

    from mpi_mapreduce_spark.operators.sketches import (
        QSK_BIN_W,
        QSK_QS,
        daily_value_histograms,
        events_quantile_sketch,
    )
    from mpi_mapreduce_spark.datamodel import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    vals = np.sort(np.array([r.value for r in ev.select("value").collect()]))
    out = {r.q: r for r in events_quantile_sketch(spark, sf_dir).collect()}
    n = len(vals)
    for q in QSK_QS:
        target = int(np.ceil(q * n / 100.0))
        exact = vals[target - 1]
        r = out[q]
        assert abs(r.exact_q - round(exact * 1e6) / 1e6) < 1e-9
        assert r.within_band
        assert 0 < r.est - exact <= QSK_BIN_W + 1e-9
    # merge identity: summing the daily sketch equals a direct histogram
    daily = daily_value_histograms(ev)
    merged = {
        r.bin: r.total
        for r in daily.groupBy("bin").agg(F.sum("cnt").alias("total")).collect()
    }
    direct = {}
    for v in vals:
        b = int(np.floor(v / QSK_BIN_W))
        direct[b] = direct.get(b, 0) + 1
    assert merged == direct


def test_streaming_sketch_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Appended per-micro-batch partial histograms sum to exactly the
    batch-computed sketch table (merge-by-addition parity)."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.sketches import daily_value_histograms
    from mpi_mapreduce_spark.streaming.sketch_maintain import (
        read_sketch_table,
        start_sketch_maintenance,
    )

    table = str(tmp_path / "sketch")
    q = start_sketch_maintenance(
        spark, sf_dir, table, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (str(r.day), r.bin): r.cnt
        for r in read_sketch_table(spark, table).collect()
    }
    batch = {
        (str(r.day), r.bin): r.cnt
        for r in daily_value_histograms(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert streamed == batch


# ---------------------------------------------------------------------------
# Count-min sketch (round-8 late addition)
# ---------------------------------------------------------------------------


def test_cms_never_undercounts_any_term(spark, sf_dir):
    """The count-min guarantee holds for EVERY term, not just the
    registered top-K: min over the d probed cells ≥ the true count."""
    toks = SK._doc_tokens(spark, sf_dir)
    sketch = {(r.j, r.c): r.cnt for r in SK.cms_build(toks).collect()}
    exact = {
        r.term: r.cnt
        for r in toks.groupBy("term").agg(F.count("*").alias("cnt")).collect()
    }
    assert exact
    import hashlib

    def bucket(term, j):
        h = hashlib.md5(f"{j}:{term}".encode()).hexdigest()
        return int(h[:15], 16) % SK.CMS_WIDTH

    for term, cnt in exact.items():
        est = min(
            sketch[(j, bucket(term, j))] for j in range(SK.CMS_DEPTH)
        )
        assert est >= cnt, (term, est, cnt)


def test_cms_shard_merge_equals_direct(spark, sf_dir):
    """Mergeable-sketch identity: per-source shard sketches sum-merge
    to the whole-corpus sketch."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    shards = [
        docs.where(F.col("doc_id") % 3 == i).select(
            F.explode(tokens(F.col("text"))).alias("term")
        )
        for i in range(3)
    ]
    per_shard = SK.cms_build(shards[0])
    for s in shards[1:]:
        per_shard = per_shard.unionByName(SK.cms_build(s))
    merged = {(r.j, r.c, r.cnt) for r in SK.cms_merge(per_shard).collect()}
    direct = {
        (r.j, r.c, r.cnt)
        for r in SK.cms_build(SK._doc_tokens(spark, sf_dir)).collect()
    }
    assert merged == direct and direct


def test_cms_heavy_hitter_error_within_epsilon(spark, sf_dir):
    """Estimate error on the registered top-K ≤ 2·N/w each (the e·N/w
    Markov bound with generous constant; N = total tokens)."""
    n = SK._doc_tokens(spark, sf_dir).count()
    rows = SK.text_cms_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == SK.CMS_TOPK
    bound = max(2.0 * n / SK.CMS_WIDTH, 1.0)
    for r in rows:
        assert r.is_overestimate
        assert r.est_cnt - r.exact_cnt <= bound, (r, bound)


def test_streaming_cms_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Appended per-micro-batch CMS partials sum to exactly the
    batch-built sketch (merge-by-addition parity, the CMS analog of
    the histogram parity above)."""
    from mpi_mapreduce_spark.streaming.sketch_maintain import (
        read_cms_table,
        start_cms_maintenance,
    )

    table = str(tmp_path / "cms")
    q = start_cms_maintenance(spark, sf_dir, table, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.j, r.c): r.cnt for r in read_cms_table(spark, table).collect()
    }
    batch = {
        (r.j, r.c): r.cnt
        for r in SK.cms_build(SK._doc_tokens(spark, sf_dir)).collect()
    }
    assert streamed == batch and streamed


def test_streaming_bloom_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Appended per-micro-batch Bloom partials OR-merge to exactly
    the batch-built filter, and the merged view serves bloom_screen
    identically (the streamed filter IS the stored artifact)."""
    from mpi_mapreduce_spark.operators import dedup as D
    from mpi_mapreduce_spark.streaming.sketch_maintain import (
        read_bloom_table,
        start_bloom_maintenance,
    )

    table = str(tmp_path / "bloom")
    q = start_bloom_maintenance(spark, sf_dir, table, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs = load_table(spark, sf_dir, "documents")
    streamed = {
        (r.word, r.bits) for r in read_bloom_table(spark, table).collect()
    }
    batch = {(r.word, r.bits) for r in D.bloom_build(docs).collect()}
    assert streamed == batch and streamed


def test_streaming_gram_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Appended per-micro-batch gram partials distinct to exactly the
    batch-built vocabulary, AND the RAW unmerged partials serve the
    incremental span probe identically (the semi join is duplicate-
    tolerant, so streaming this leg needs no merge step at all)."""
    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators import dedup as D
    from mpi_mapreduce_spark.streaming.sketch_maintain import (
        read_gram_table,
        start_gram_maintenance,
    )

    table = str(tmp_path / "grams")
    q = start_gram_maintenance(spark, sf_dir, table, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs = load_table(spark, sf_dir, "documents")
    streamed = {r.s for r in read_gram_table(spark, table).collect()}
    batch = {r.s for r in D.substring_gram_index_rows(docs).collect()}
    assert streamed == batch and streamed

    # serving parity on the raw partials: a probe batch sharing a
    # corpus passage gets identical spans from the streamed table
    probe = docs.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    via_stream = {
        tuple(r)
        for r in D.incremental_span_rows(
            probe, corpus_grams=spark.read.parquet(table)
        ).collect()
    }
    via_batch = {
        tuple(r) for r in D.incremental_span_rows(probe, docs).collect()
    }
    assert via_stream == via_batch


def test_nightly_cms_two_nights_and_crash_replay(spark, sf_dir, tmp_path):
    """Two nights of partials sum to the one-pass sketch over both
    nights' docs; a crash between the partition write and the ledger
    commit replays with an overwrite (same summed view, no growth);
    a third clean run is a no-op."""
    import os
    import shutil

    from mpi_mapreduce_spark.functions.text import tokens
    from mpi_mapreduce_spark.operators.sketches import read_nightly_cms

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "docs")
    table = str(tmp_path / "state" / "cms")
    os.makedirs(src)

    def drop(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        part = next(
            f
            for f in os.listdir(str(tmp_path / "stage"))
            if f.endswith(".parquet")
        )
        os.replace(str(tmp_path / "stage" / part), os.path.join(src, name))

    drop("n1.parquet", [(1, "aa bb aa"), (2, "cc dd")])
    p1, f1 = nightly_leg(spark, batch, state, "cms")
    assert p1 is not None and len(f1) == 1

    drop("n2.parquet", [(3, "aa ee"), (4, "ff")])
    p2, f2 = nightly_leg(spark, batch, state, "cms")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]

    merged = {
        (r.j, r.c): r.cnt for r in read_nightly_cms(spark, table).collect()
    }
    all_docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "cc dd"), (3, "aa ee"), (4, "ff")],
        "doc_id long, text string",
    )
    direct = {
        (r.j, r.c): r.cnt
        for r in SK.cms_build(
            all_docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        ).collect()
    }
    assert merged == direct

    # a third clean run is a no-op
    p3, f3 = nightly_leg(spark, batch, state, "cms")
    assert p3 is None and f3 == []

    # crash replay, sibling-test shape: ONE night ingested, the
    # partition written, the ledger commit lost — the replay carries
    # the SAME file set, hence the same batch key, hence a keyed
    # overwrite: the summed view is unchanged and the table does not
    # grow
    batch2 = str(tmp_path / "batch2")
    state2 = str(tmp_path / "state2")
    src2 = str(tmp_path / "batch2" / "docs")
    ledger2 = str(tmp_path / "state2" / "ledger")
    table2 = str(tmp_path / "state2" / "cms")
    os.makedirs(src2)
    spark.createDataFrame(
        [(1, "xx yy xx")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage2"))
    part = next(
        f
        for f in os.listdir(str(tmp_path / "stage2"))
        if f.endswith(".parquet")
    )
    os.replace(str(tmp_path / "stage2" / part), os.path.join(src2, "n1.parquet"))
    q1, _ = nightly_leg(spark, batch2, state2, "cms")
    first = {
        (r.j, r.c): r.cnt for r in read_nightly_cms(spark, table2).collect()
    }
    n_rows = spark.read.parquet(table2).count()
    shutil.rmtree(ledger2)
    q2, g2 = nightly_leg(spark, batch2, state2, "cms")
    assert [os.path.basename(f) for f in g2] == ["n1.parquet"]
    assert {
        (r.j, r.c): r.cnt for r in read_nightly_cms(spark, table2).collect()
    } == first
    assert spark.read.parquet(table2).count() == n_rows


def test_cms_heavy_hitters_stored_sketch_matches_recomputed(spark, sf_dir):
    """Stored-serving contract: reading estimates from the persisted
    text_cms_sketch artifact yields exactly the rebuilt-sketch rows."""
    stored = SK.text_cms_sketch(spark, sf_dir)
    via_stored = {
        tuple(r)
        for r in SK.text_cms_heavy_hitters(spark, sf_dir, cms=stored).collect()
    }
    recomputed = {
        tuple(r) for r in SK.text_cms_heavy_hitters(spark, sf_dir).collect()
    }
    assert via_stored == recomputed and recomputed
