"""Focused pins for the round-14 optimization restructures: each test
asserts the NEW plan shape computes byte-identical results to the
semantics it replaced (the bench-visible speedups are measured in
OPTIMIZATION_r14.md; these keep the rewrites honest under refactors).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(spark):
    from mpi_mapreduce_spark.datamodel import load_table

    return load_table(spark, SF_DIR, "documents")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_window_minmax_dup_filter_matches_distinct_join(spark):
    """duplicated_span_rows filters duplicated grams with ONE window
    pass over partitionBy(s) — min(doc_id) != max(doc_id) — instead
    of the r13 distinct+groupBy df>=2 vocabulary joined back onto
    occurrences. The two predicates are equivalent (>=2 distinct docs
    iff min != max), so the span output must match row for row."""
    from mpi_mapreduce_spark.operators.dedup import (
        SPAN_N,
        _spans_from_starts,
        duplicated_span_rows,
        positional_ngram_rows,
    )

    docs = _docs(spark)
    occ = positional_ngram_rows(docs, SPAN_N).where(
        F.col("glen") == SPAN_N
    )
    dup = (
        occ.select("s", "doc_id")
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("s")
    )
    starts = occ.join(dup, "s").select("doc_id", "q")
    via_join = _spans_from_starts(starts, SPAN_N)
    assert _rows(duplicated_span_rows(docs)) == _rows(via_join)


def test_bm25_large_vocab_falls_back_to_semi_join(spark):
    """ADVICE r13: bm25_topk embeds small query vocabularies as a
    literal IN-list but must fall back to a broadcast semi-join past
    256 distinct terms (plan-size guard) with identical results, and
    must raise on an empty query set instead of silently returning
    nothing."""
    import pytest

    from mpi_mapreduce_spark.operators.retrieval import (
        QUERY_SET,
        bm25_topk,
    )

    docs = _docs(spark)
    small = _rows(bm25_topk(docs, QUERY_SET))
    # pad the query set with unmatchable terms to cross the threshold;
    # extra no-hit terms contribute no postings, so top-k is unchanged
    padded = QUERY_SET + [
        (900 + i, f"zzqx{i}a zzqx{i}b") for i in range(200)
    ]
    big = bm25_topk(docs, padded)
    big_rows = [
        t for t in _rows(big) if t[0] in {q for q, _ in QUERY_SET}
    ]
    assert big_rows == small
    with pytest.raises(ValueError):
        bm25_topk(docs, [(1, "  ")])


def test_declarative_logreg_matches_driver_loop_model(spark):
    """quality_logreg_scores unrolls the GD loop into one declarative
    plan (weights in a bucket frame, bias under sentinel -1, n_docs a
    1-row aggregate, round-1 err = 0.5 - y off the known-zero init).
    Scores must be bit-equal to the driver-loop model from
    _logreg_fit applied through _logreg_logits (the r13 shape)."""
    from mpi_mapreduce_spark.operators.training import (
        _logreg_fit,
        _logreg_logits,
        quality_logreg_scores,
    )
    from mpi_mapreduce_spark.functions import exact as ex

    docs = _docs(spark)
    weights, bias, counts, y = _logreg_fit(docs)
    final = _logreg_logits(counts, y, weights, bias)
    logit_q = ex.quantize(F.col("logit"), 6)
    loop_scores = final.select(
        "doc_id",
        logit_q.alias("logit"),
        ex.quantize(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-logit_q)), 6
        ).alias("prob"),
        (logit_q > 0).alias("keep"),
    )
    assert _rows(quality_logreg_scores(docs)) == _rows(loop_scores)


def test_minhash_gathered_verify_matches_row_fanout(spark):
    """minhash_jaccard_pairs verifies candidates against per-doc
    gathered shingle ARRAYS (array_intersect per candidate pair)
    instead of the r13 row-fanout join through (doc_b, s). Exact set
    semantics must match: same pairs, same quantized jaccard."""
    from mpi_mapreduce_spark.functions import exact as ex
    from mpi_mapreduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _minhash_candidates,
        minhash_jaccard_pairs,
        shingle_rows,
    )

    docs = _docs(spark)
    srows = shingle_rows(docs)
    cands = _minhash_candidates(srows)
    sizes = srows.groupBy("doc_id").agg(F.count("*").alias("n"))
    ra = srows.select(F.col("doc_id").alias("doc_a"), "s")
    rb = srows.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cands.join(ra, "doc_a")
        .join(rb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    ni = F.coalesce(F.col("ni"), F.lit(0)).cast("double")
    fanout = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ex.quantize(
                ni / (F.col("na") + F.col("nb") - ni), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    assert _rows(minhash_jaccard_pairs(docs, srows=srows)) == _rows(
        fanout
    )
