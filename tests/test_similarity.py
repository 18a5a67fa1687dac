"""Similarity-search contracts. Brute force is the truth. The ANN
recall contract runs on *planted clustered* vectors — the driver's
synthetic embeddings are i.i.d. noise (max pairwise cosine ≈ 0.5),
which carries no neighborhood structure for any ANN index; clustered
data is what the operator exists for."""

from __future__ import annotations

import math
import random

import pytest

from mpi_mapreduce_spark.operators import similarity as S
from pyspark.sql import functions as F


def _topk(df) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append(r.vec_id)
    return out


def test_knn_shape_and_selfexclusion(spark, sf_dir):
    rows = S.knn_bruteforce(spark, sf_dir).collect()
    assert len(rows) == S.N_QUERIES * S.TOP_K
    assert all(r.vec_id != r.query_id for r in rows)
    assert all(1 <= r.rank <= S.TOP_K for r in rows)


def test_ann_returns_valid_neighbors_on_table(spark, sf_dir):
    """The banded output carries the exact top-k rows and the two
    LSH-vs-exact invariant flags, which must be TRUE everywhere (they
    are theorems for a correct implementation, not measurements)."""
    rows = S.ann_lsh_topk(spark, sf_dir).collect()
    assert len(rows) == S.N_QUERIES * S.TOP_K
    assert all(r.vec_id != r.query_id for r in rows)
    assert all(r.rank <= S.TOP_K for r in rows)
    assert all(r.found_iff_probed for r in rows)
    assert all(r.lsh_rank_bounded for r in rows)


@pytest.fixture(scope="module")
def clustered(spark):
    """20 clusters x 30 vectors, within-cluster cosine ≈ 0.95 (σ=0.06
    noise over 16 dims → ||noise|| ≈ 0.24 vs unit centers) — the
    near-duplicate regime ANN retrieval exists for."""
    rng = random.Random(7)
    dim = 16
    rows = []
    vid = 0
    for _ in range(20):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        cn = math.sqrt(sum(x * x for x in center))
        center = [x / cn for x in center]
        for _ in range(30):
            noise = [rng.gauss(0, 0.06) for _ in range(dim)]
            rows.append((vid, [c + n for c, n in zip(center, noise)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return S.normalized_corpus(df), dim


def test_ivf_returns_valid_neighbors_on_table(spark, sf_dir):
    """Banded output: exact top-k rows + IVF-vs-exact invariant flags,
    TRUE everywhere by theorem (mirrors the LSH banded test)."""
    rows = S.ann_ivf_topk(spark, sf_dir).collect()
    assert len(rows) == S.N_QUERIES * S.TOP_K
    assert all(r.vec_id != r.query_id for r in rows)
    assert all(r.rank <= S.TOP_K for r in rows)
    assert all(r.found_iff_probed for r in rows)
    assert all(r.ivf_rank_bounded for r in rows)


def test_ivf_recall_on_clustered_data(clustered, spark):
    """IVF with nprobe=3 over 16 cells on 20 planted clusters: the
    query's own cluster lands in one cell, so recall should be high —
    and far above the 3/16 random-scan fraction."""
    corpus, dim = clustered
    queries = corpus.where(F.col("vec_id") % 30 == 0).limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    truth = _topk(S.knn_topk(corpus, queries))
    cents = S.ivf_centroids(corpus)
    approx = _topk(S.ann_ivf(corpus, queries, cents))
    recalls = [
        len(set(truth[q]) & set(approx.get(q, []))) / len(truth[q]) for q in truth
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.7, f"IVF recall {mean_recall:.2f} ({recalls})"
    # exact-rescore truthfulness: IVF cosines must equal brute force
    pairs_bf = {
        (r.query_id, r.vec_id): r.cosine
        for r in S.knn_topk(corpus, queries, k=600).collect()
    }
    for r in S.ann_ivf(corpus, queries, cents).collect():
        assert pairs_bf[(r.query_id, r.vec_id)] == r.cosine


def test_ivf_centroids_deterministic(clustered):
    corpus, dim = clustered
    assert S.ivf_centroids(corpus) == S.ivf_centroids(corpus)


def test_ann_recall_on_clustered_data(clustered, spark):
    corpus, dim = clustered
    queries = corpus.where(F.col("vec_id") % 30 == 0).limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    truth = _topk(S.knn_topk(corpus, queries))
    approx = _topk(S.ann_lsh(corpus, queries, dim))
    recalls = [
        len(set(truth[q]) & set(approx.get(q, []))) / len(truth[q]) for q in truth
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"ANN recall {mean_recall:.2f} ({recalls})"
    # every ANN result must be exact-rescored truthfully: its cosine
    # must match the brute-force score for the same pair
    pairs_bf = {
        (r.query_id, r.vec_id): r.cosine
        for r in S.knn_topk(corpus, queries, k=600).collect()
    }
    for r in S.ann_lsh(corpus, queries, dim).collect():
        assert pairs_bf[(r.query_id, r.vec_id)] == r.cosine


def test_label_centroids_match_numpy_mean(spark, sf_dir):
    import numpy as np

    from mpi_mapreduce_spark.datamodel import load_table

    rows = S.embedding_label_centroids(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings").collect()
    dim = len(emb[0].embedding)
    labels = {r.label for r in emb}
    assert len(rows) == len(labels) * dim
    # exact per-(label, dim) mean within quantization error of numpy
    lab0 = min(labels)
    vecs = np.array([r.embedding for r in emb if r.label == lab0], dtype=np.float64)
    got = {r.pos: (r.centroid, r.n_vecs) for r in rows if r.label == lab0}
    want = vecs.mean(axis=0)
    for pos in range(dim):
        c, n = got[pos]
        assert n == len(vecs)
        assert abs(c - want[pos]) < 1e-5, pos


def test_label_outlier_fraction_near_pct(spark, sf_dir):
    """Strictly-below-p05 flagging: the outlier fraction per label must
    be ≈ 5% (≤ 5% by construction of the strict inequality, and > 0
    whenever the label has enough distinct scores)."""
    import mpi_mapreduce_spark.operators.similarity as S

    rows = S.embedding_label_outliers(spark, sf_dir).collect()
    assert rows
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    import math

    for label, rs in by_label.items():
        n_out = sum(r.is_outlier for r in rs)
        # strictly-below the interpolated p05 of n values flags at
        # most floor(p*(n-1)) + 1 of them (the interpolation point
        # sits within the bottom ceil(p*(n-1))+1 order statistics)
        cap = math.floor(S.OUTLIER_PCT * (len(rs) - 1)) + 1
        assert n_out <= cap, (label, n_out, cap, len(rs))
        if len({r.cos_centroid for r in rs}) > 20:
            assert n_out > 0, (label, "no outliers flagged")


def test_int8_quantization_numpy_recount(spark):
    """Codes, scale, and errors match an independent numpy recompute;
    the analytic |err| <= scale/2 bound holds on every vector."""
    import numpy as np

    random.seed(7)
    vecs = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    emb = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in S.int8_quant_stats(emb).select("vec_id", "st.*").collect()}
    for i, v in vecs:
        e = np.array([np.float32(x) for x in v], dtype=np.float64)
        mag = max(np.max(np.abs(e)), S.INT8_EPS)
        q = np.floor(e * 127.0 / mag + 0.5)
        scale = mag / 127.0
        diff = e - q * scale
        r = out[i]
        assert r.dim == 16
        assert r.q_sum == int(q.sum())
        assert r.scale == pytest.approx(scale, abs=0.0)
        assert r.max_abs_err == pytest.approx(np.max(np.abs(diff)), abs=0.0)
        assert r.max_abs_err <= scale * 0.5 + S.INT8_EPS
        assert abs(r.l2_err - math.sqrt(float(np.dot(diff, diff)))) < 1e-12
    # extreme elements map to exactly +/-127-coded values: err 0 there
    one_hot = spark.createDataFrame(
        [(0, [1.0, 0.0, -1.0, 0.5])], "vec_id long, embedding array<float>"
    )
    r0 = S.int8_quant_stats(one_hot).select("st.*").collect()[0]
    assert r0.q_sum == 0 + 127 - 127 + 64  # floor(63.5+0.5)=64


def test_int8_screened_topk_equals_bruteforce(spark, sf_dir):
    """The int8 screening is output-invariant: same rows, same ranks,
    same quantized cosines as the exact search; and the error-bound
    math actually prunes (numpy recount of the candidate rule)."""
    import numpy as np

    exact = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in S.knn_bruteforce(spark, sf_dir).collect()
    }
    screened = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in S.ann_int8_topk(spark, sf_dir).collect()
    }
    assert screened == exact
    # recount the screening rule in numpy to show it prunes
    corpus, queries, _ = S._table_corpus_queries(spark, sf_dir)
    V = {r.vec_id: np.array(r.v) for r in corpus.collect()}
    kept_frac = []
    for r in queries.collect():
        qv = np.array(r.qv)
        ids = np.array([i for i in V if i != r.query_id])
        M = np.vstack([V[i] for i in ids])
        mag = np.maximum(np.max(np.abs(M), axis=1), S.INT8_EPS)
        codes = np.floor(M * 127.0 / mag[:, None] + 0.5)
        scale = mag / 127.0
        approx = scale * (codes @ qv)
        err = scale * 0.5 * np.sum(np.abs(qv))
        lb = approx - err
        cut = np.sort(lb)[-S.TOP_K]
        kept = np.sum(approx + err + S.INT8_SCREEN_MARGIN >= cut)
        kept_frac.append(kept / len(ids))
    assert max(kept_frac) < 0.5, f"screening never pruned: {kept_frac}"


def test_pq_topk_shape_and_determinism(spark, sf_dir):
    a = S.ann_pq_topk(spark, sf_dir).collect()
    b = S.ann_pq_topk(spark, sf_dir).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per = {}
    for r in a:
        per.setdefault(r.query_id, []).append(r)
        assert r.vec_id != r.query_id
        assert r.adist >= 0.0
    assert set(per) == set(range(S.N_QUERIES))
    for q, rs in per.items():
        assert sorted(r.rank for r in rs) == list(range(1, S.TOP_K + 1))
        rs.sort(key=lambda r: r.rank)
        dists = [r.adist for r in rs]
        assert dists == sorted(dists)


def test_pq_recall_on_clustered_64d(spark):
    """PQ ADC over planted 64-dim clusters: the query's true cluster
    members (tiny true L2) must dominate the ADC top-k. 10 clusters x
    30 vectors; queries are vec_id < 5 (all in cluster 0 by
    construction order: vec 0..29 = cluster 0)."""
    import math
    import random

    rng = random.Random(11)
    dim = S.PQ_M * S.PQ_SUBDIM
    rows = []
    vid = 0
    for _ in range(10):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        cn = math.sqrt(sum(x * x for x in center))
        center = [x / cn for x in center]
        for _ in range(30):
            noise = [rng.gauss(0, 0.05) for _ in range(dim)]
            rows.append((vid, [c + n for c, n in zip(center, noise)]))
            vid += 1
    raw = spark.createDataFrame(rows, "vec_id long, e array<double>")
    out = S.pq_adc_topk(raw).collect()
    per = {}
    for r in out:
        per.setdefault(r.query_id, []).append(r.vec_id)
    # queries 0..4 live in cluster 0 = vec_ids 0..29: ADC neighbors
    # should overwhelmingly come from there
    for q in range(5):
        hits = sum(1 for v in per[q] if v < 30)
        assert hits >= 8, f"query {q}: only {hits}/10 in true cluster"


def test_covariance_matches_numpy(spark, sf_dir):
    import numpy as np

    from mpi_mapreduce_spark.datamodel import load_table

    rows = S.embedding_covariance(spark, sf_dir).collect()
    emb = np.vstack([
        np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    ])
    ref = np.cov(emb, rowvar=False, bias=True)  # population covariance
    assert rows
    for r in rows:
        assert r.i <= r.j
        # quantized-moment semantics: agree with numpy to quantization
        # + accumulation slack
        assert abs(r.cov - ref[r.i, r.j]) < 5e-5, (r.i, r.j)
    # upper triangle complete: dim*(dim+1)/2 entries
    dim = emb.shape[1]
    assert len(rows) == dim * (dim + 1) // 2


def test_hard_negatives_label_and_order(spark, sf_dir):
    from mpi_mapreduce_spark.datamodel import load_table

    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    rows = S.embedding_hard_negatives(spark, sf_dir).collect()
    assert rows
    per = {}
    for r in rows:
        assert r.neg_label == labels[r.vec_id]
        assert r.neg_label != labels[r.query_id]  # never same-label
        assert r.vec_id != r.query_id
        per.setdefault(r.query_id, []).append(r)
    for q, rs in per.items():
        rs.sort(key=lambda r: r.rank)
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        # hard negatives are a subset of the full kNN ordering with
        # same-label rows removed: every returned cosine must be <=
        # the best overall cosine for the query
        assert len(rs) <= S.TOP_K


def test_pq_rerank_exactness_within_shortlist(spark):
    """The re-rank stage must order its shortlist by EXACT quantized
    L2: on planted clusters every returned distance equals the true
    full-vector distance (recomputed in python), ranks are consistent,
    and the top-k is the exact top-k of the ADC shortlist — i.e. the
    re-rank removes ADC quantization error wherever the shortlist
    admits the true neighbors."""
    import math
    import random

    rng = random.Random(23)
    dim = S.PQ_M * S.PQ_SUBDIM
    rows = []
    vid = 0
    for _ in range(10):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        cn = math.sqrt(sum(x * x for x in center))
        center = [x / cn for x in center]
        for _ in range(30):
            noise = [rng.gauss(0, 0.05) for _ in range(dim)]
            rows.append((vid, [c + n for c, n in zip(center, noise)]))
            vid += 1
    raw = spark.createDataFrame(rows, "vec_id long, e array<double>")
    vecs = {i: e for i, e in rows}

    def true_dist(a, b):
        acc = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            acc += (x - y) * (x - y)
        q = math.floor(acc * 1e6 + 0.5) / 1e6
        return q

    out = S.pq_rerank_topk(raw).collect()
    per = {}
    for r in out:
        per.setdefault(r.query_id, []).append(r)
        assert abs(r.dist - true_dist(r.query_id, r.vec_id)) < 1e-9
    assert set(per) == set(range(S.N_QUERIES))
    for q, rs in per.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, S.TOP_K + 1))
        dists = [r.dist for r in rs]
        assert dists == sorted(dists)
        # cluster members (true tiny distance) dominate the result
        same_cluster = [r for r in rs if r.vec_id < 30]
        assert len(same_cluster) >= S.TOP_K - 1


@pytest.fixture(scope="module")
def planted_sep(spark):
    """Small separated corpus (the 100k rehearsal's generator at
    n=2000: 20 planted pairs at cosine ≈ 0.97, bulk random 64-dim
    directions), id-permuted so the planted pair FIRST members are
    vec_id 0..19 — every search core's own ``vec_id < n_queries``
    query selection then picks exactly the planted queries (same
    setup as tools/ann_recall.py). Returns (df, partner_of)."""
    from tools.ann_recall import _n_pairs, _permutation
    from tools.scale_rehearsal import separated_embeddings

    import numpy as np

    n = 2000
    _, v, pairs = separated_embeddings(n=n, n_pairs=_n_pairs(n))
    perm, partner_of = _permutation(n, pairs)
    order = np.argsort(perm)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v[order[i]]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    return df, partner_of


def _planted_recall(df, partner_of, n_queries: int) -> tuple[float, int]:
    """(recall, worst rank when found) of the planted partner in the
    result frame's top-k."""
    found = {
        r.query_id: r.rank
        for r in df.collect()
        if partner_of.get(r.query_id) == r.vec_id
    }
    return len(found) / n_queries, max(found.values(), default=0)


def test_pq_rerank_shortlist_recall_monotone(planted_sep, monkeypatch):
    """Round-6 knob pin: widening the ADC shortlist can only ADD
    candidates to the exact re-rank, so planted-partner recall is
    monotone in the shortlist width — recall(100) ≥ recall(50) — and
    whenever the partner IS shortlisted the exact re-rank puts it at
    rank 1 (cosine ≈ 0.97 vs a ≈ N(0, 1/64) noise bulk; the exact
    distance cannot misorder it). The 100k trade-off curve behind the
    default lives in SCALING.md (tools/ann_recall.py)."""
    df, partner_of = planted_sep
    raw = df.select("vec_id", F.col("embedding").alias("e"))
    nq = len(partner_of)
    monkeypatch.setattr(S, "N_QUERIES", nq)
    monkeypatch.setattr(S, "PQ_RERANK_SHORTLIST", 50)
    r50, worst50 = _planted_recall(S.pq_rerank_topk(raw), partner_of, nq)
    monkeypatch.setattr(S, "PQ_RERANK_SHORTLIST", 100)
    r100, worst100 = _planted_recall(S.pq_rerank_topk(raw), partner_of, nq)
    assert r100 >= r50, f"recall(100)={r100:.2f} < recall(50)={r50:.2f}"
    assert r50 >= 0.9, f"recall(50)={r50:.2f} on separated data"
    assert worst50 <= 1 and worst100 <= 1, "re-ranked partner not rank 1"


def test_lsh_probe_bits_recall_monotone(planted_sep, monkeypatch):
    """Round-6 knob pin: the 2-bit multiprobe set strictly contains
    the 1-bit set (every ≤1-flip mask is a ≤2-flip mask), so the
    candidate pool — and hence planted-partner recall — is monotone
    in probe_bits. On separated data the partner is found iff its
    bucket is probed (cosine 0.97 beats every noise candidate), so
    this exercises exactly the recall the 100k sweep measures."""
    df, partner_of = planted_sep
    corpus = S.normalized_corpus(df)
    nq = len(partner_of)
    queries = corpus.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    monkeypatch.setattr(S, "LSH_PROBE_BITS_DEFAULT", 1)
    r1, _ = _planted_recall(S.ann_lsh(corpus, queries, 64), partner_of, nq)
    monkeypatch.setattr(S, "LSH_PROBE_BITS_DEFAULT", 2)
    r2, _ = _planted_recall(S.ann_lsh(corpus, queries, 64), partner_of, nq)
    assert r2 >= r1, f"recall(2-bit)={r2:.2f} < recall(1-bit)={r1:.2f}"
    assert r2 >= 0.9, f"recall(2-bit)={r2:.2f} on separated data"


def test_probe_masks_generic_contract():
    """_probe_masks honors its docstring for EVERY width (ADVICE r6:
    it used to silently return the 1-bit set for probe_bits=0 and cap
    at 2): exactly sum_{r<=w} C(8,r) distinct masks, each of popcount
    <= w, every popcount <= w mask present; out-of-range widths raise."""
    from math import comb

    import pytest as _pytest

    for w in range(S.LSH_BITS + 1):
        masks = S._probe_masks(w)
        expect = sum(comb(S.LSH_BITS, r) for r in range(w + 1))
        assert len(masks) == len(set(masks)) == expect
        assert all(bin(m).count("1") <= w for m in masks)
        assert set(masks) == {
            m for m in range(1 << S.LSH_BITS) if bin(m).count("1") <= w
        }
    for bad in (-1, S.LSH_BITS + 1):
        with _pytest.raises(ValueError):
            S._probe_masks(bad)


def test_ivf_nprobe_recall_monotone(planted_sep, monkeypatch):
    """Completes the ANN knob triptych (LSH probe_bits, PQ shortlist,
    IVF nprobe): the top-(nprobe=3) probed cells are a prefix-superset
    of the top-(nprobe=1) cells (argsort prefix, [:, :nprobe]), so the
    candidate pool — and planted-partner recall — is monotone in
    nprobe. Measured curve
    at 100k in SCALING.md (tools/ann_recall.py `ivf:<nprobe>`)."""
    df, partner_of = planted_sep
    corpus = S.normalized_corpus(df)
    nq = len(partner_of)
    queries = corpus.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cents = S.ivf_centroids(corpus)
    monkeypatch.setattr(S, "IVF_PROBES", 1)
    r1, _ = _planted_recall(S.ann_ivf(corpus, queries, cents), partner_of, nq)
    monkeypatch.setattr(S, "IVF_PROBES", 3)
    r3, _ = _planted_recall(S.ann_ivf(corpus, queries, cents), partner_of, nq)
    assert r3 >= r1, f"recall(nprobe=3)={r3:.2f} < recall(nprobe=1)={r1:.2f}"
    assert r3 >= 0.9, f"recall(nprobe=3)={r3:.2f} on separated data"


def test_ivf_assign_batch_matches_inverted_file(spark, sf_dir):
    """Pins the incremental-IVF serving contract (VERDICT r7 item 5):
    assigning tonight's batch against the STORED quantizer equals (a)
    a full retrain-and-assign on the unchanged stable corpus
    (training is deterministic — no RNG, hash-ordered sample), and (b)
    the inverted-file cell function (_cell_expr) applied to the same
    batch — serving and write-side share one assignment total order."""
    corpus, _queries, _dim = S._table_corpus_queries(spark, sf_dir)
    stable = corpus.where(F.col("vec_id") % S.IVF_ASSIGN_BATCH_MOD != 0)
    batch = corpus.where(F.col("vec_id") % S.IVF_ASSIGN_BATCH_MOD == 0)

    a = {
        r.vec_id: (r.cell, r.cosine)
        for r in S.ann_ivf_assign_batch(spark, sf_dir).collect()
    }
    b = {
        r.vec_id: (r.cell, r.cosine)
        for r in S.ann_ivf_assign_batch(spark, sf_dir).collect()
    }
    assert a == b and len(a) == batch.count()

    cents = S.ivf_centroids(stable)
    via_cell_expr = {
        r.vec_id: r.cell
        for r in batch.select(
            "vec_id", S._cell_expr(F.col("v"), cents).alias("cell")
        ).collect()
    }
    assert {k: v[0] for k, v in a.items()} == via_cell_expr


def test_ivf_centroid_artifact_unit_norm_and_total(spark, sf_dir):
    """The registered centroid artifact is a complete k x dim table of
    (quantized) unit vectors: every cell has every component, and each
    centroid's norm is 1 within quantization error."""
    rows = S.ann_ivf_centroids(spark, sf_dir).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, {})[r.i] = r.c
    assert set(by_cell) == set(range(S.IVF_CELLS))
    for cell, comps in by_cell.items():
        assert set(comps) == set(range(64))
        norm = sum(v * v for v in comps.values()) ** 0.5
        assert abs(norm - 1.0) < 1e-3, f"cell {cell}: norm {norm}"


def test_ivf_cells_total_and_deterministic(spark, sf_dir):
    """The inverted-file artifact covers every corpus vector exactly
    once, every cell id is a trained cell, the quantized cosine is a
    valid unit-dot, and two builds agree row-for-row (no RNG anywhere
    in training or assignment)."""
    corpus, _queries, _dim = S._table_corpus_queries(spark, sf_dir)
    a = {r.vec_id: (r.cell, r.cosine) for r in S.ann_ivf_cells(spark, sf_dir).collect()}
    b = {r.vec_id: (r.cell, r.cosine) for r in S.ann_ivf_cells(spark, sf_dir).collect()}
    assert a == b
    assert len(a) == corpus.count()
    for cell, cos in a.values():
        assert 0 <= cell < S.IVF_CELLS
        assert cos <= 1.000001


from tests.conftest import axis_vec as _vec
from tests.conftest import drop_vec_file as _drop_vec_file
from tests.conftest import nightly_leg


def test_nightly_ivf_two_nights_trains_once(spark, tmp_path):
    """Night 1 trains and persists the quantizer from the initial
    batch; night 2 reads ONLY the new file and assigns it against the
    STORED centroids — the centroid table is byte-stable across
    nights (no silent retrain) and the inverted file accumulates both
    batches; a third run is a no-op."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    index = str(tmp_path / "state" / "ivf")
    os.makedirs(src)

    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet",
        [(i, _vec(i)) for i in range(4)],
    )
    a1, f1 = nightly_leg(spark, batch, state, "ivf")
    assert len(f1) == 1 and a1.count() == 4
    cents1 = sorted(
        (r.cell, tuple(r.c))
        for r in spark.read.parquet(os.path.join(index, "centroids")).collect()
    )

    _drop_vec_file(
        spark, tmp_path, src, "n2.parquet",
        [(10 + i, _vec(i, wiggle=0.05)) for i in range(4)],
    )
    a2, f2 = nightly_leg(spark, batch, state, "ivf")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]
    got = {r.vec_id: r.cell for r in a2.collect()}
    assert set(got) == {10, 11, 12, 13}
    cents2 = sorted(
        (r.cell, tuple(r.c))
        for r in spark.read.parquet(os.path.join(index, "centroids")).collect()
    )
    assert cents2 == cents1, "night 2 must NOT retrain the quantizer"
    # near-axis night-2 vectors land in their axis's cell: same cell
    # as the corresponding night-1 exact-axis vector
    n1 = {r.vec_id: r.cell for r in a1.collect()}
    for i in range(4):
        assert got[10 + i] == n1[i]

    a3, f3 = nightly_leg(spark, batch, state, "ivf")
    assert a3 is None and f3 == []
    assert spark.read.parquet(os.path.join(index, "cells")).count() == 8


def test_nightly_ivf_crash_replay_idempotent(spark, tmp_path):
    """Crash between the cells write and the ledger commit: the replay
    loads the already-persisted centroids (training is deterministic
    AND skipped when the table exists), reproduces identical
    assignments, and overwrites rather than duplicates the batch
    partition."""
    import os
    import shutil

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    ledger = str(tmp_path / "state" / "ledger")
    index = str(tmp_path / "state" / "ivf")
    os.makedirs(src)
    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet",
        [(i, _vec(i)) for i in range(5)],
    )
    a1, _ = nightly_leg(spark, batch, state, "ivf")
    first = {r.vec_id: (r.cell, r.cosine) for r in a1.collect()}
    n_cells_rows = spark.read.parquet(os.path.join(index, "cells")).count()

    shutil.rmtree(ledger)  # simulate: index written, ledger commit lost
    a2, f2 = nightly_leg(spark, batch, state, "ivf")
    assert [os.path.basename(f) for f in f2] == ["n1.parquet"]
    assert {r.vec_id: (r.cell, r.cosine) for r in a2.collect()} == first
    assert (
        spark.read.parquet(os.path.join(index, "cells")).count()
        == n_cells_rows
    )


def test_nightly_ivf_empty_file_is_consumed(spark, tmp_path):
    """Round-8 review regression (IVF leg): a zero-row file commits
    the ledger without training a quantizer; the first REAL night
    then trains as if it were night one."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    os.makedirs(src)
    _drop_vec_file(spark, tmp_path, src, "empty.parquet", [])
    a1, f1 = nightly_leg(spark, batch, state, "ivf")
    assert [os.path.basename(f) for f in f1] == ["empty.parquet"]
    assert a1.count() == 0
    assert not os.path.isdir(str(tmp_path / "state" / "ivf" / "centroids"))
    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet", [(i, _vec(i)) for i in range(3)]
    )
    a2, _ = nightly_leg(spark, batch, state, "ivf")
    assert a2.count() == 3


def test_ann_lsh_stored_buckets_match_recomputed(spark, sf_dir):
    """Stored-index serving contract for the ANN-LSH leg: running
    ann_lsh against the persisted ann_lsh_bucket_table artifact
    yields EXACTLY the rows of the re-bucketing path, and the
    artifact equals the inline bucketing."""
    corpus, queries, dim = S._table_corpus_queries(spark, sf_dir)
    stored = S.ann_lsh_bucket_table(spark, sf_dir)
    inline = corpus.select(
        "vec_id", S.bucket_expr(F.col("v"), dim).alias("bucket")
    )
    assert {(r.vec_id, r.bucket) for r in stored.collect()} == {
        (r.vec_id, r.bucket) for r in inline.collect()
    }
    via_stored = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in S.ann_lsh(
            corpus, queries, dim, corpus_buckets=stored
        ).collect()
    }
    recomputed = {
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in S.ann_lsh(corpus, queries, dim).collect()
    }
    assert via_stored == recomputed and len(recomputed) > 0


def test_mmr_structural_invariants(spark, sf_dir):
    """Rank-1 is the exact relevance top-1, every pick comes from the
    exact top-shortlist, no duplicates, exactly TOP_K per query."""
    corpus, queries, _dim = S._table_corpus_queries(spark, sf_dir)
    mmr = S.ann_mmr_topk(spark, sf_dir).collect()
    short = S.knn_topk(corpus, queries, k=S.MMR_SHORTLIST).collect()
    shortset = {(r.query_id, r.vec_id) for r in short}
    top1 = {r.query_id: r.vec_id for r in short if r.rank == 1}
    byq = {}
    for r in mmr:
        byq.setdefault(r.query_id, []).append(r)
    for qid, rows in byq.items():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) == S.TOP_K
        assert len({r.vec_id for r in rows}) == S.TOP_K
        assert rows[0].vec_id == top1[qid]
        for r in rows:
            assert (qid, r.vec_id) in shortset


def test_mmr_diversifies_planted_clusters(spark, monkeypatch):
    """Planted fixture: the 10 most-relevant candidates are all
    near-copies of each other (one tight cluster hugging the query);
    a second, looser cluster sits a bit further. Plain kNN top-3 is
    all cluster A; MMR top-3 must break out of cluster A by rank 3."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 16
    q = np.zeros(dim); q[0] = 1.0
    rows = [(0, q.tolist())]
    # two clusters on the SAME cone around q but opposite azimuths:
    # A at 24° (+e1 side, 10 near-copies, pairwise sim ≈ 1), B at 26°
    # (−e1 side). kNN ranks all of A first (24° < 26°), but once one
    # A-copy is picked, a second costs μ·1.0 while a B-copy costs only
    # μ·cos(50°) — MMR must cross to B at rank 2.
    ta, tb = np.deg2rad(24.0), np.deg2rad(26.0)
    a = np.zeros(dim); a[0] = np.cos(ta); a[1] = np.sin(ta)
    b = np.zeros(dim); b[0] = np.cos(tb); b[1] = -np.sin(tb)
    for i in range(10):
        v = a + rng.randn(dim) * 0.002
        rows.append((10 + i, v.tolist()))
    for i in range(10):
        v = b + rng.randn(dim) * 0.002
        rows.append((30 + i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = S.normalized_corpus(emb)
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    knn3 = [
        r.vec_id
        for r in S.knn_topk(corpus, queries, k=3)
        .orderBy("rank")
        .collect()
    ]
    with monkeypatch.context() as m:
        m.setattr(S, "TOP_K", 3)
        mmr3 = [
            r.vec_id
            for r in S.mmr_rerank(corpus, queries)
            .orderBy("rank")
            .collect()
        ]
    assert all(10 <= v < 20 for v in knn3), knn3  # kNN: all cluster A
    assert any(v >= 30 for v in mmr3), mmr3  # MMR escapes by rank 3
    assert 10 <= mmr3[0] < 20  # rank 1 still pure relevance


def test_mmr_fewer_candidates_than_k(spark):
    """A query whose shortlist is smaller than k must return every
    candidate once, still relevance-first — the greedy's min(k, n)
    bound, and the applyInPandas schema under a short group."""
    import numpy as np

    dim = 8
    rows = [(0, ([1.0] + [0.0] * (dim - 1)))]
    for i in range(3):  # only 3 candidates, k defaults to 10
        v = np.zeros(dim); v[0] = 1.0; v[1 + i] = 0.5
        rows.append((10 + i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = S.normalized_corpus(emb)
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    out = S.mmr_rerank(corpus, queries).orderBy("rank").collect()
    assert [r.rank for r in out] == [1, 2, 3]
    assert len({r.vec_id for r in out}) == 3


def test_mmr_over_ann_shortlist(spark, sf_dir, monkeypatch):
    """The production serving composition: MMR diversifies an
    ANN-produced shortlist instead of the exact scan. Contracts:
    every pick comes from the supplied shortlist, rank 1 is the
    shortlist's top relevance, k rows per query (or the whole
    shortlist when shorter)."""
    corpus, queries, dim = S._table_corpus_queries(spark, sf_dir)
    with monkeypatch.context() as m:
        m.setattr(S, "TOP_K", S.MMR_SHORTLIST)
        ann = S.ann_lsh(corpus, queries, dim)
    out = S.mmr_rerank(corpus, queries, shortlist_df=ann).collect()
    short = {(r.query_id, r.vec_id): r.cosine for r in ann.collect()}
    byq = {}
    for r in out:
        byq.setdefault(r.query_id, []).append(r)
    for qid, rows in byq.items():
        rows.sort(key=lambda r: r.rank)
        n_short = sum(1 for (q, _v) in short if q == qid)
        assert len(rows) == min(S.TOP_K, n_short)
        for r in rows:
            assert (qid, r.vec_id) in short
            assert r.relevance == short[(qid, r.vec_id)]
        top_rel = max(
            (c, -v) for (q, v), c in short.items() if q == qid
        )
        assert rows[0].relevance == top_rel[0]


def _vec64(i, wiggle=0.0):
    """64-dim axis vector — PQ encodes PQ_M x PQ_SUBDIM = 64 dims."""
    return _vec(i, dim=S.PQ_M * S.PQ_SUBDIM, wiggle=wiggle)


def test_nightly_pq_two_nights_trains_once(spark, tmp_path):
    """Night 1 trains and persists the PQ codebooks from the initial
    batch; night 2 reads ONLY the new file and encodes it against the
    STORED books — the codebook table is byte-stable across nights,
    night-2 codes equal a fresh encode with the loaded books
    (parquet float64 round-trip is exact), the code table accumulates
    both batches, and a third run is a no-op."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    index = str(tmp_path / "state" / "pq")
    os.makedirs(src)

    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet",
        [(i, _vec64(i)) for i in range(20)],
    )
    c1, f1 = nightly_leg(spark, batch, state, "pq")
    assert len(f1) == 1 and c1.count() == 20 * S.PQ_M
    books1 = sorted(
        (r.m, r.k, tuple(r.c))
        for r in spark.read.parquet(
            os.path.join(index, "codebooks")
        ).collect()
    )
    assert len(books1) == S.PQ_M * S.PQ_K

    _drop_vec_file(
        spark, tmp_path, src, "n2.parquet",
        [(100 + i, _vec64(i, wiggle=0.05)) for i in range(4)],
    )
    c2, f2 = nightly_leg(spark, batch, state, "pq")
    assert [os.path.basename(f) for f in f2] == ["n2.parquet"]
    assert {r.vec_id for r in c2.collect()} == {100, 101, 102, 103}
    books2 = sorted(
        (r.m, r.k, tuple(r.c))
        for r in spark.read.parquet(
            os.path.join(index, "codebooks")
        ).collect()
    )
    assert books2 == books1, "night 2 must NOT retrain the codebooks"
    # loaded-books encode equals a direct encode with the same books
    cents = [[None] * S.PQ_K for _ in range(S.PQ_M)]
    for m, k, c in books1:
        cents[m][k] = list(c)
    from pyspark.sql import functions as F

    batch2 = spark.createDataFrame(
        [(100 + i, _vec64(i, wiggle=0.05)) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    direct = {
        (r.vec_id, r.m, r.code)
        for r in S._raw_corpus(batch2)
        .select(
            "vec_id",
            F.posexplode(S._pq_codes(cents)(F.col("e"))).alias("m", "code"),
        )
        .collect()
    }
    assert {(r.vec_id, r.m, r.code) for r in c2.collect()} == direct

    c3, f3 = nightly_leg(spark, batch, state, "pq")
    assert c3 is None and f3 == []
    assert (
        spark.read.parquet(os.path.join(index, "codes")).count()
        == 24 * S.PQ_M
    )


def test_nightly_pq_crash_replay_idempotent(spark, tmp_path):
    """Crash between the codes write and the ledger commit: the
    replay loads the already-persisted codebooks, reproduces the
    identical code rows, and overwrites rather than duplicates the
    batch partition."""
    import os
    import shutil

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    ledger = str(tmp_path / "state" / "ledger")
    index = str(tmp_path / "state" / "pq")
    os.makedirs(src)
    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet",
        [(i, _vec64(i)) for i in range(20)],
    )
    c1, _ = nightly_leg(spark, batch, state, "pq")
    first = {(r.vec_id, r.m, r.code) for r in c1.collect()}
    n_rows = spark.read.parquet(os.path.join(index, "codes")).count()

    shutil.rmtree(ledger)
    c2, f2 = nightly_leg(spark, batch, state, "pq")
    assert [os.path.basename(f) for f in f2] == ["n1.parquet"]
    assert {(r.vec_id, r.m, r.code) for r in c2.collect()} == first
    assert spark.read.parquet(os.path.join(index, "codes")).count() == n_rows


def test_nightly_pq_empty_file_is_consumed(spark, tmp_path):
    """A zero-row file commits the ledger without training codebooks;
    the first REAL night still trains."""
    import os

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    index = str(tmp_path / "state" / "pq")
    os.makedirs(src)
    _drop_vec_file(spark, tmp_path, src, "n0.parquet", [])
    c0, f0 = nightly_leg(spark, batch, state, "pq")
    assert c0.count() == 0 and len(f0) == 1
    assert not os.path.isdir(os.path.join(index, "codebooks"))

    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet",
        [(i, _vec64(i)) for i in range(20)],
    )
    c1, _ = nightly_leg(spark, batch, state, "pq")
    assert c1.count() == 20 * S.PQ_M


def test_nightly_ann_lsh_two_nights_and_serving_parity(spark, tmp_path):
    """Two nights of bucket appends union to exactly the one-pass
    bucket table over both batches (the hyperplanes are seeded
    constants — no train-once step), the stored union serves ann_lsh
    identically to re-bucketing, and the ledger makes a third run a
    no-op."""
    import os

    from pyspark.sql import functions as F

    batch = str(tmp_path / "batch")
    state = str(tmp_path / "state")
    src = str(tmp_path / "batch" / "vecs")
    index = str(tmp_path / "state" / "ann_lsh")
    os.makedirs(src)

    _drop_vec_file(
        spark, tmp_path, src, "n1.parquet",
        [(i, _vec(i)) for i in range(6)],
    )
    b1, f1 = nightly_leg(spark, batch, state, "ann_lsh")
    assert len(f1) == 1 and b1.count() == 6
    _drop_vec_file(
        spark, tmp_path, src, "n2.parquet",
        [(10 + i, _vec(i, wiggle=0.05)) for i in range(6)],
    )
    b2, _ = nightly_leg(spark, batch, state, "ann_lsh")
    assert b2.count() == 6
    b3, f3 = nightly_leg(spark, batch, state, "ann_lsh")
    assert b3 is None and f3 == []

    all_vecs = spark.createDataFrame(
        [(i, _vec(i)) for i in range(6)]
        + [(10 + i, _vec(i, wiggle=0.05)) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    corpus = S.normalized_corpus(all_vecs)
    dim = len(_vec(0))
    stored = {
        (r.vec_id, r.bucket)
        for r in spark.read.parquet(os.path.join(index, "buckets"))
        .select("vec_id", "bucket")
        .collect()
    }
    direct = {
        (r.vec_id, r.bucket)
        for r in corpus.select(
            "vec_id", S.bucket_expr(F.col("v"), dim).alias("bucket")
        ).collect()
    }
    assert stored == direct and stored

    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    stored_buckets = spark.read.parquet(
        os.path.join(index, "buckets")
    ).select("vec_id", "bucket")
    via_stored = {
        tuple(r)
        for r in S.ann_lsh(
            corpus, queries, dim, corpus_buckets=stored_buckets
        ).collect()
    }
    recomputed = {
        tuple(r) for r in S.ann_lsh(corpus, queries, dim).collect()
    }
    assert via_stored == recomputed and recomputed
