"""Focused pins for the round-13 optimization restructures: each test
asserts the NEW plan shape computes byte-identical results to the
semantics it replaced (the bench-visible speedups are measured in
OPTIMIZATION_r13.md; these keep the rewrites honest under refactors).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(spark):
    from mpi_mapreduce_spark.datamodel import load_table

    return load_table(spark, SF_DIR, "documents")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_quality_score_frame_passthrough_matches_join(spark):
    """pipeline_curate_corpus inlines the quality projection with
    passthrough columns instead of joining scores back on doc_id —
    the passthrough frame must equal the join it replaced, column for
    column."""
    from mpi_mapreduce_spark.operators.textops import quality_score_frame

    docs = _docs(spark)
    inline = quality_score_frame(docs, passthrough=["text", "source"])
    joined = docs.select("doc_id", "text", "source").join(
        quality_score_frame(docs), "doc_id"
    )
    cols = ["doc_id", "text", "source", "quality", "stopword_ratio", "alpha_ratio"]
    assert _rows(inline.select(*cols)) == _rows(joined.select(*cols))


def test_kmeans_keep_vec_rides_assignment_row(spark):
    """keep_vec=True carries the input vector on the assignment row
    (replacing SemDeDup's corpus self-join) — assignments must be
    unchanged and v must be the caller's vector verbatim."""
    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.operators.similarity import (
        kmeans_assignments,
        normalized_corpus,
    )

    emb = normalized_corpus(load_table(spark, SF_DIR, "embeddings"))
    plain = kmeans_assignments(emb)
    kept = kmeans_assignments(emb, keep_vec=True)
    assert set(kept.columns) == {"vec_id", "v", "cluster", "cosine"}
    assert _rows(plain) == _rows(kept.drop("v"))
    # v is the input vector, not a recomputation
    src = {r.vec_id: list(r.v) for r in emb.collect()}
    for r in kept.collect():
        assert list(r.v) == src[r.vec_id]


def test_banded_srows_shortcut_matches_band_join(spark):
    """ngram_jaccard_pairs accepts a shingle index that already
    carries its length band (the pipeline_canonical_containment
    persisted artifact) and must produce the exact pair set of the
    band-joining path."""
    from mpi_mapreduce_spark.operators.dedup import (
        LEN_BAND,
        ngram_jaccard_pairs,
        shingle_rows,
    )

    docs = _docs(spark)
    srows = shingle_rows(docs)
    banded = srows.join(
        docs.select(
            "doc_id", (F.col("n_chars") / LEN_BAND).cast("long").alias("band")
        ),
        "doc_id",
    )
    via_shortcut = ngram_jaccard_pairs(docs, srows=banded)
    via_join = ngram_jaccard_pairs(docs, srows=srows)
    assert _rows(via_shortcut) == _rows(via_join)


def test_array_positional_grams_match_window_form(spark):
    """positional_ngram_rows derives grams off the token array
    (r14: posexplode(sequence) + codegen slice/array_join, still no
    shuffle); output must equal the r12 posexplode+window formulation
    row for row — including the whole-doc short gram (n=40 forces
    most docs through that branch)."""
    from pyspark.sql import Window as W

    from mpi_mapreduce_spark.operators.dedup import positional_ngram_rows

    docs = _docs(spark)

    def window_rows(n):
        tok = docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias(
                "p0", "tok"
            ),
        ).where(F.col("tok") != "")
        w = W.partitionBy("doc_id").orderBy("p0")
        t = tok.select(
            "doc_id",
            (F.row_number().over(w) - 1).alias("q"),
            "tok",
            F.lag("tok", 1).over(w).alias("prev"),
            *[F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, n)],
        )
        gram = F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])
        full = t.where(F.col(f"t{n-1}").isNotNull()).select(
            "doc_id",
            "q",
            F.lit(n).cast("long").alias("glen"),
            gram.alias("s"),
        )
        glen_short = F.lit(1) + sum(
            F.when(F.col(f"t{j}").isNotNull(), 1).otherwise(0)
            for j in range(1, n)
        )
        short = t.where(
            F.col("prev").isNull() & F.col(f"t{n-1}").isNull()
        ).select(
            "doc_id",
            "q",
            glen_short.cast("long").alias("glen"),
            gram.alias("s"),
        )
        return full.unionByName(short)

    for n in (3, 8, 40):
        assert _rows(positional_ngram_rows(docs, n)) == _rows(
            window_rows(n)
        ), f"n={n}"


def test_logreg_fused_bias_gradient_matches_two_pass_model(spark, monkeypatch):
    """_logreg_fit folds the bias gradient into the weight-gradient
    aggregate under sentinel bucket -1; the trained model must equal
    the two-collect formulation it replaced (recomputed here
    literally)."""
    from mpi_mapreduce_spark.functions import exact as ex
    from mpi_mapreduce_spark.operators import training as T
    from mpi_mapreduce_spark.operators.training import (
        DSIR_TARGET_SOURCE,
        _logreg_fit,
        _logreg_logits,
        hashed_bucket_rows,
    )

    monkeypatch.setattr(T, "DSIR_BUCKETS", 64)
    monkeypatch.setattr(T, "QL_ROUNDS", 2)
    docs = _docs(spark)
    weights, bias, _, _ = _logreg_fit(docs)

    # the r12 two-collect reference, verbatim
    counts = (
        hashed_bucket_rows(docs)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    y = docs.select(
        "doc_id",
        F.when(F.col("source") == DSIR_TARGET_SOURCE, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    n_docs = float(docs.count())
    ref_w = {b: 0.0 for b in range(64)}
    ref_b = 0.0
    for _ in range(2):
        lg = _logreg_logits(counts, y, ref_w, ref_b)
        err = lg.select(
            "doc_id",
            (
                ex.quantize(
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 6
                )
                - F.col("y")
            ).alias("err"),
        )
        g = (
            counts.join(err, "doc_id")
            .select(
                "bucket",
                ex.quantize(F.col("cnt") * F.col("err"), 6).alias("c"),
            )
            .groupBy("bucket")
            .agg(
                ex.quantize(
                    ex.quantized_sum("c", 6) / F.lit(n_docs), 6
                ).alias("g")
            )
        )
        grads = {r.bucket: r.g for r in g.collect()}
        bg = err.agg(
            ex.quantize(
                ex.quantized_sum("err", 6) / F.lit(n_docs), 6
            ).alias("bg")
        ).collect()[0].bg
        for b in range(64):
            ref_w[b] = ref_w[b] - grads.get(b, 0.0)
        ref_b = ref_b - bg
    assert weights == ref_w
    assert bias == ref_b


def test_bpe_array_pairs_match_window_pairs(spark):
    """bpe_train_merges derives adjacent symbol pairs off the rep's
    symbol array (no posexplode/window); the trained merge table must
    equal the windowed formulation's, round for round."""
    from pyspark.sql import Window as W

    from mpi_mapreduce_spark.functions.text import tokens
    from mpi_mapreduce_spark.operators.textops import (
        BPE_MERGE_ROUNDS,
        bpe_train_merges,
    )

    docs = _docs(spark)
    got = [tuple(r) for r in bpe_train_merges(docs).collect()]

    # the r12 windowed reference, verbatim (per-round checkpoint form)
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    words = (
        toks.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.concat(
                F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
            ).alias("rep"),
            "freq",
        )
        .localCheckpoint()
    )
    ref = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        syms = words.select(
            "rep",
            "freq",
            F.posexplode(F.split(F.trim("rep"), " ")).alias("p", "sym"),
        )
        w = W.partitionBy("rep").orderBy("p")
        pairs = syms.select(
            "rep", "freq", "sym", F.lead("sym", 1).over(w).alias("nxt")
        ).where(F.col("nxt").isNotNull())
        top = (
            pairs.groupBy(F.concat_ws(" ", "sym", "nxt").alias("pair"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0].pair, top[0].c
        lhs, rhs = pair.split(" ")
        ref.append((r, lhs, rhs, lhs + rhs, cnt))
        words = words.select(
            F.replace(
                "rep", F.lit(f" {pair} "), F.lit(f" {lhs + rhs} ")
            ).alias("rep"),
            "freq",
        ).localCheckpoint()
    assert got == ref
