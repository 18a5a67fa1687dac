"""Similarity search over ``array<float>`` embedding columns.

Two tiers:

- **brute-force top-k** — exact cosine against every vector; the
  correctness baseline (DuckDB oracle) and the right plan whenever the
  query set is small: queries broadcast, the corpus scan is
  embarrassingly parallel, top-k per query is a window over
  (query, corpus-partition) partials.
- **hyperplane-LSH ANN** — the 100 TB path: 8 random-hyperplane sign
  bits bucket the corpus once (a write-side job in production);
  queries probe their own bucket plus all 1-bit-flip neighbors
  (multiprobe), so the scan touches ~9/256 of the corpus. Hyperplanes
  come from a seeded RNG → deterministic across runs. Rows-only with
  the driver (bucketing isn't SQL-expressible); recall is pinned in
  tests on *planted clustered* data — the driver's synthetic
  embeddings are near-orthogonal noise, which no ANN structure can
  (or should) accelerate.

Both tiers share the DataFrame-in/DataFrame-out core, so tests can
run them over any corpus, not just the registry table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.functions import exact as ex
from mpi_mapreduce_spark.functions import vectors as VEC

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 serve as the query set in registry queries
LSH_BITS = 8
#: multiprobe width of ann_lsh; ann_lsh's probe set and ann_lsh_topk's
#: validation-twin probe set both derive from this one constant
#: (ADVICE r6: one definition).
LSH_PROBE_BITS_DEFAULT = 1
LSH_SEED = 42


def normalized_corpus(emb: DataFrame) -> DataFrame:
    """(vec_id, v: array<double> unit-norm) from (vec_id, embedding).

    Arrow-batched normalization — bit-identical to the HOF version but
    vectorized (see functions.vectors docstring for why)."""
    return emb.select(
        "vec_id",
        VEC.normalize_arrow(VEC.as_double(F.col("embedding"))).alias("v"),
    )


def knn_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors per query over a normalized corpus.

    ``queries``: (query_id, qv) — small, broadcast. Cosine is a plain
    dot of unit vectors (Arrow-batched, bit-identical to the oracle's
    left fold); ranking uses the *rounded* score plus vec_id tiebreak
    so results are reproducible against the oracle."""
    dot = VEC.dot_arrow(F.col("qv"), F.col("v"))
    scored = corpus.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        ex.quantize(dot, 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Hyperplane LSH ANN
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int) -> list[list[float]]:
    """LSH_BITS x dim Gaussian hyperplanes from a fixed seed — pure
    data, embedded as plan literals (a broadcast variable at scale)."""
    import numpy as np

    rng = np.random.RandomState(LSH_SEED)
    return rng.randn(LSH_BITS, dim).tolist()


def bucket_expr(vec_col: F.Column, dim: int) -> F.Column:
    """Sign-bit bucket id: bit j = 1 iff v · h_j > 0 — Arrow-batched;
    per-hyperplane cumsum keeps the dot's left-fold order bit-identical
    to the HOF version, so bucket assignments are stable across the
    rewrite and across runs (seeded hyperplanes)."""
    from pyspark.sql.functions import pandas_udf

    hps = _hyperplanes(dim)

    @pandas_udf("int")
    def _bucket(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.Series([], dtype="int32")
        m = np.vstack(xs.to_numpy())
        out = np.zeros(len(xs), dtype=np.int32)
        for j, h in enumerate(hps):
            dots = np.cumsum(m * np.asarray(h), axis=1)[:, -1]
            out |= (dots > 0).astype(np.int32) << j
        return pd.Series(out)

    return _bucket(vec_col)


def _probe_masks(probe_bits: int) -> list[int]:
    """XOR masks of the multiprobe set: the query's own bucket plus
    every bucket within Hamming distance ``probe_bits`` of it —
    generated generically as all bit-position combinations of size
    0..probe_bits, so the docstring contract holds for every width.
    0-bit → 1 of 256 buckets (own bucket only); 1-bit → 9 (the
    registered default); 2-bit → 37 — recall rises from p⁸+8p⁷q to
    p⁸+8p⁷q+28p⁶q² (p = per-bit agreement 1−θ/π, q = 1−p) at ~4× the
    candidate mass. Measured on the 100k separated corpus in
    SCALING.md's probe-width table."""
    from itertools import combinations

    if not 0 <= probe_bits <= LSH_BITS:
        raise ValueError(
            f"probe_bits must be in [0, {LSH_BITS}], got {probe_bits}"
        )
    masks = []
    for r in range(probe_bits + 1):
        for bits in combinations(range(LSH_BITS), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-TOP_K: bucket the corpus once, probe each query's
    bucket plus every neighbor within LSH_PROBE_BITS_DEFAULT bit flips
    (multiprobe), exact-rescore only the touched candidates via a
    shuffle equi-join on bucket id. The width is 1 bit (recall/wall
    trade measured at 100k — SCALING.md's probe-width table, where
    2 bits is the recall-critical alternative).

    ``corpus_buckets`` is the STORED index path (round 8, same
    contract as the IVF and embedding-dedup families): pass the
    persisted ``(vec_id, bucket)`` table — the ann_lsh_bucket_table
    artifact — and the corpus is never re-bucketed; vectors rejoin
    per-id for the rescore. Stored-vs-recomputed output equality is
    pinned in tests/test_similarity.py."""
    dot = VEC.dot_arrow(F.col("qv"), F.col("v"))
    if corpus_buckets is None:
        bucketed = corpus.withColumn("bucket", bucket_expr(F.col("v"), dim))
    else:
        bucketed = corpus_buckets.select("vec_id", "bucket").join(
            corpus, "vec_id"
        )
    qb = queries.withColumn("qbucket", bucket_expr(F.col("qv"), dim))
    probes = F.array(
        *[
            F.col("qbucket").bitwiseXOR(F.lit(m))
            for m in _probe_masks(LSH_PROBE_BITS_DEFAULT)
        ],
    )
    probing = qb.select(
        "query_id", "qv", F.explode(probes).alias("bucket")
    )
    cands = probing.join(bucketed, "bucket").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        ex.quantize(dot, 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_lsh_bucket_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN-LSH bucket index ARTIFACT: ``(vec_id, bucket)`` over
    the whole corpus — the stored table ann_lsh's probe join scans
    when serving (``corpus_buckets``), completing the stored-index
    symmetry across all three search/dedup families (IVF: centroids/
    cells/assign-batch; embedding dedup: embedding_bucket_index; this
    is the ANN-LSH leg). Fully oracle-checked via the same inlined
    sign-hyperplane mirror as embedding_bucket_index (single
    LSH_BITS-bit band; the sign-boundary margin of these hyperplanes
    is pinned alongside the banding ones in
    tests/test_dedup.py::test_bucket_index_margin)."""
    corpus, _queries, dim = _table_corpus_queries(spark, sf_dir)
    return corpus.select(
        "vec_id", bucket_expr(F.col("v"), dim).alias("bucket")
    )


def _lsh_bucket_table_oracle() -> str:
    hps = _hyperplanes(64)
    rows = []
    for j, h in enumerate(hps):
        lit = "[" + ", ".join(f"'{float(x)!r}'" for x in h) + "]::DOUBLE[]"
        rows.append(f"({j}, {lit})")
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
    ), hp(j, h) AS (VALUES
        {values}
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN list_dot_product(v, h) > 0
                         THEN (1 << j) ELSE 0 END) AS INT) AS bucket
    FROM n CROSS JOIN hp
    GROUP BY vec_id
    """


# ---------------------------------------------------------------------------
# MMR diversified re-rank (round-8 late addition)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7  #: relevance weight
#: diversity penalty weight — an INDEPENDENT literal, not 1-λ:
#: 1.0 - 0.7 is 0.30000000000000004 in IEEE doubles, and the oracle's
#: SQL literal 0.3 is not that number; both engines must multiply by
#: the same double or boundary rows flip at the 6-decimal quantize
MMR_MU = 0.3
MMR_SHORTLIST = 30  #: exact top-N shortlist the greedy runs over


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist_df: DataFrame | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein
    1998): per query, greedily pick TOP_K of the top-MMR_SHORTLIST exact
    candidates maximizing λ·relevance − μ·max-similarity-to-already-
    picked — the diversity-aware serving top-k (RAG context selection,
    dedup-aware retrieval) where plain kNN returns five copies of the
    same passage.

    Scale shape: the RELEVANCE pass is the distributed exact top-N
    (knn_topk — broadcast queries, one corpus scan, per-query window);
    the GREEDY pass is applyInPandas over one (query, shortlist)
    group — O(N²·d) per query with N fixed at 30, constant serving
    work per query regardless of corpus size. The greedy is
    cross-engine deterministic: pairwise sims use the same left-fold
    dot and 6-decimal quantize as every score in this module,
    round-half-away-from-zero matches Spark's scale-0 ROUND and
    DuckDB's (functions/exact.py), and ties break on vec_id — the
    DuckDB oracle replays the identical recursion as a recursive CTE
    with a LATERAL argmax."""
    # serving composition: pass ``shortlist_df`` (query_id, vec_id,
    # cosine — e.g. an ANN result) and the exact-scan relevance pass
    # is skipped entirely; the greedy diversifies whatever shortlist
    # the caller's index produced (subset/diversity pytest-pinned)
    short = (
        knn_topk(corpus, queries, k=MMR_SHORTLIST)
        if shortlist_df is None
        else shortlist_df
    )
    cand = short.select(
        "query_id", "vec_id", F.col("cosine").alias("rel")
    ).join(corpus, "vec_id")
    lam, mu, kk = MMR_LAMBDA, MMR_MU, TOP_K

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        def q6(x):
            y = np.asarray(x, dtype=np.float64) * 1e6
            return np.sign(y) * np.floor(np.abs(y) + 0.5) / 1e6

        qid = pdf["query_id"].iloc[0]
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        nc = len(ids)
        sims = np.empty((nc, nc))
        for i in range(nc):
            # cumsum = the module's left-fold dot, bit-equal to the
            # oracle's list_dot_product
            sims[i] = q6(np.cumsum(m * m[i], axis=1)[:, -1])
        picked = np.zeros(nc, dtype=bool)
        # step-1 penalty term is literal 0 (empty selected set); from
        # step 2 it is the TRUE max over selected — which can be
        # NEGATIVE on anti-similar vectors (an MMR bonus). A zeros
        # init + running np.maximum would silently floor it at 0.
        maxsim = np.zeros(nc)
        first = True
        rows = []
        for step in range(1, min(kk, nc) + 1):
            score = q6(lam * rel - mu * maxsim)
            masked = np.where(picked, -np.inf, score)
            best = np.lexsort((ids, -masked))[0]
            rows.append((qid, ids[best], rel[best], score[best], step))
            picked[best] = True
            if first:
                maxsim = sims[best].copy()
                first = False
            else:
                maxsim = np.maximum(maxsim, sims[best])
        return pd.DataFrame(
            rows, columns=["query_id", "vec_id", "relevance", "mmr", "rank"]
        )

    return cand.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, vec_id long, relevance double, mmr double, rank int",
    )


def ann_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered MMR query over the standing corpus/query fixture."""
    corpus, queries, _dim = _table_corpus_queries(spark, sf_dir)
    return mmr_rerank(corpus, queries)


ORACLE_MMR = f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS v
      FROM v
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_dot_product(q.v, c.v) * 1000000.0) / 1000000.0
               AS rel
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ), cand AS (
      SELECT query_id, vec_id, rel
      FROM (SELECT query_id, vec_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, vec_id ASC) AS rank
            FROM scored)
      WHERE rank <= {MMR_SHORTLIST}
    ), cvec AS (
      SELECT c.query_id, c.vec_id, c.rel, n.v FROM cand c JOIN n USING (vec_id)
    ), sims AS (
      SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
             ROUND(list_dot_product(a.v, b.v) * 1000000.0) / 1000000.0 AS sim
      FROM cvec a JOIN cvec b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ), sel AS (
      SELECT query_id, 1 AS rank, vec_id, rel,
             ROUND(({MMR_LAMBDA} * rel - {MMR_MU} * 0.0) * 1000000.0)
               / 1000000.0 AS mmr,
             [vec_id] AS ids
      FROM (SELECT query_id, vec_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY ROUND(({MMR_LAMBDA} * rel - {MMR_MU} * 0.0)
                                     * 1000000.0) / 1000000.0 DESC,
                               vec_id ASC) AS rn
            FROM cand)
      WHERE rn = 1
      UNION ALL
      SELECT s.query_id, s.rank + 1, p.vec_id, p.rel, p.mmr,
             list_append(s.ids, p.vec_id)
      FROM sel s, LATERAL (
        SELECT c.vec_id, c.rel,
               ROUND(({MMR_LAMBDA} * c.rel - {MMR_MU} * COALESCE(
                 (SELECT MAX(si.sim) FROM sims si
                  WHERE si.query_id = s.query_id AND si.va = c.vec_id
                    AND list_contains(s.ids, si.vb)), 0.0)) * 1000000.0)
                 / 1000000.0 AS mmr
        FROM cand c
        WHERE c.query_id = s.query_id AND NOT list_contains(s.ids, c.vec_id)
        ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
      ) p
      WHERE s.rank < {TOP_K}
    )
    SELECT query_id, vec_id, rel AS relevance, mmr, CAST(rank AS INTEGER) AS rank
    FROM sel
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second 100 TB scale path
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_PROBES = 3
IVF_SAMPLE = 2048
IVF_ITERS = 5
#: incremental-ingest split convention shared with dedup.INCR_BATCH_MOD:
#: every 10th vector is "tonight's batch", the rest the stable corpus
IVF_ASSIGN_BATCH_MOD = 10


def _np_q6(a):
    """Scale-6 half-away-from-zero quantize (np.round is banker's) —
    numpy twin of ex.quantize / ex.sql_quantize."""
    import numpy as np

    return np.where(
        a >= 0.0, np.floor(a * 1e6 + 0.5), np.ceil(a * 1e6 - 0.5)
    ) / 1e6


def ivf_centroids(corpus: DataFrame) -> list[list[float]]:
    """Train the coarse quantizer: deterministic quantized Lloyd over a
    bounded, hash-ordered sample of the corpus, driver-side in numpy.

    This is how IVF works at 100 TB too — the quantizer is trained on a
    sample (centroids are k x dim, kilobytes), then broadcast; only the
    cell *assignment* pass touches the full corpus. Round-8 rework to
    the engine's cross-engine exactness discipline so the trained table
    is itself a registered, hash-attested artifact (ann_ivf_centroids):

    - sample: the IVF_SAMPLE lexicographically-lowest md5(vec_id) rows
      (TakeOrdered, no full sort — reproducible at any parallelism).
      md5 — unlike the xxhash64 this used before round 8 — is computed
      identically by Spark and DuckDB, so the oracle re-derives the
      SAME sample. Init = the first IVF_CELLS sample points.
    - assign: argmax of the QUANTIZED (scale 6, half-away) left-fold
      dot, first-max = lowest cell — the _assign_struct convention.
    - update: per-component mean in exact int64 arithmetic (each x
      rounded half-away to 1e-6, integer sum, divide back — the
      ex.quantized_avg / ex.sql_avg recipe, order-independent);
      renormalize with the left-fold norm; QUANTIZE the result each
      iteration so engine-side last-ulp drift cannot compound across
      rounds. Empty cells keep their previous centroid."""
    import numpy as np

    sample = (
        corpus.select("v", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(IVF_SAMPLE)
        .collect()
    )
    x = np.array([r.v for r in sample], dtype=np.float64)
    n_cells = IVF_CELLS
    cents = x[:n_cells].copy()
    for _ in range(IVF_ITERS):
        dots = np.stack(
            [np.cumsum(x * cents[c], axis=1)[:, -1] for c in range(len(cents))],
            axis=1,
        )
        assign = np.argmax(_np_q6(dots), axis=1)  # first max = lowest cell
        new = cents.copy()
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                qi = np.where(
                    members >= 0.0,
                    np.floor(members * 1e6 + 0.5),
                    np.ceil(members * 1e6 - 0.5),
                ).astype(np.int64)
                m = (qi.sum(axis=0).astype(np.float64) / 1e6) / len(members)
                nrm = np.sqrt(np.cumsum(m * m)[-1])
                new[c] = _np_q6(m / nrm) if nrm > 0 else _np_q6(m)
        cents = new
    return cents.tolist()


def _cell_expr(vec_col: F.Column, cents: list[list[float]]) -> F.Column:
    """argmax_c quantize6(v · centroid_c) — nearest cell for unit
    vectors, ties to the lowest cell. Literally _assign_struct's
    cluster field (ONE assignment UDF body, not a hand-synced twin —
    round-8 review finding), so the inverted file, the serving
    assignment (ann_ivf_assign_batch / ann_ivf_cells) and the
    validation recompute cannot fork their cell geometry."""
    return _assign_struct(vec_col, cents)["cluster"]


def _probe_cells_expr(vec_col: F.Column, cents: list[list[float]], nprobe: int) -> F.Column:
    """Top-nprobe nearest cells per query vector (array<int>)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _probes(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.Series([], dtype="object")
        m = np.vstack(xs.to_numpy())
        c = np.asarray(cents)
        order = np.argsort(-(m @ c.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return _probes(vec_col)


def ann_ivf(
    corpus: DataFrame, queries: DataFrame, cents: list[list[float]]
) -> DataFrame:
    """IVF search: assign the corpus to its nearest centroid cell (a
    one-time write-side job in production — the inverted file), probe
    each query's IVF_PROBES nearest cells via an equi-join, exact-rescore
    only those candidates. Scan cost ~ IVF_PROBES/IVF_CELLS of the corpus;
    every stage partitions by cell id, linear in corpus size."""
    dot = VEC.dot_arrow(F.col("qv"), F.col("v"))
    celled = corpus.withColumn("cell", _cell_expr(F.col("v"), cents))
    probing = queries.select(
        "query_id",
        "qv",
        F.explode(_probe_cells_expr(F.col("qv"), cents, IVF_PROBES)).alias(
            "cell"
        ),
    )
    cands = probing.join(celled, "cell").where(F.col("vec_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        "vec_id",
        ex.quantize(dot, 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Registry entries over the embeddings table
# ---------------------------------------------------------------------------

def _table_corpus_queries(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    corpus = normalized_corpus(emb)
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return corpus, queries, dim


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries, dim = _table_corpus_queries(spark, sf_dir)
    return knn_topk(corpus, queries)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with a self-validating banded output (upgraded from
    rows-only): emits the EXACT top-k per query (oracle-expressible —
    same body as knn_bruteforce) plus two booleans that are
    deterministically TRUE for a correct LSH implementation, so the
    oracle pins them as literal TRUE per the established banded
    pattern (relational.py approx_distinct_counts):

    - ``found_iff_probed`` — an exact top-k neighbor appears in the
      LSH result *iff* its bucket is in the query's multiprobe set.
      ⇐: LSH candidates come only from probed buckets. ⇒: a probed
      exact-rank-r neighbor ranks ≤ r ≤ k among candidates (a subset
      of the corpus under the same total order), so it cannot be
      displaced from the LSH top-k. Exercises bucketing, probe
      expansion, the candidate join and the ranking window end-to-end.
    - ``lsh_rank_bounded`` — the LSH rank-r cosine (when a rank-r row
      exists) never exceeds the exact rank-r cosine: subset-dominance
      under the shared (quantized cosine, vec_id) order.

    A recall *number* is intentionally not banded here: the synthetic
    registry embeddings are near-orthogonal noise (module docstring),
    so measured recall ≈ bucket coverage and any bound would be either
    vacuous or fixture-fragile; recall is pinned in pytest on planted
    clustered data instead."""
    corpus, queries, dim = _table_corpus_queries(spark, sf_dir)
    exact = knn_topk(corpus, queries)
    lsh = ann_lsh(corpus, queries, dim)

    bucketed = corpus.select(
        "vec_id", bucket_expr(F.col("v"), dim).alias("nbucket")
    )
    qb = queries.withColumn("qbucket", bucket_expr(F.col("qv"), dim))
    # Probe set derived from the SAME mask generator and width
    # (LSH_PROBE_BITS_DEFAULT) ann_lsh uses, so the twin's
    # found_iff_probed invariant tracks any future change to the width
    # at the source instead of diverging silently (ADVICE r6).
    probes = F.array(
        *[
            F.col("qbucket").bitwiseXOR(F.lit(m))
            for m in _probe_masks(LSH_PROBE_BITS_DEFAULT)
        ],
    )
    probe_set = (
        qb.select(F.col("query_id").alias("p_qid"), F.explode(probes).alias("p_bucket"))
        .distinct()
        .withColumn("probed_hit", F.lit(1))
    )
    found = lsh.select(
        F.col("query_id").alias("f_qid"),
        F.col("vec_id").alias("f_vid"),
        F.lit(1).alias("found_hit"),
    )
    lsh_ranks = lsh.select(
        F.col("query_id").alias("r_qid"),
        F.col("rank").alias("r_rank"),
        F.col("cosine").alias("lsh_cosine"),
    )
    ex_b = exact.join(bucketed, "vec_id")
    out = (
        ex_b.join(
            F.broadcast(probe_set),
            (F.col("query_id") == F.col("p_qid"))
            & (F.col("nbucket") == F.col("p_bucket")),
            "left",
        )
        .join(
            F.broadcast(found),
            (F.col("query_id") == F.col("f_qid"))
            & (F.col("vec_id") == F.col("f_vid")),
            "left",
        )
        .join(
            F.broadcast(lsh_ranks),
            (F.col("query_id") == F.col("r_qid"))
            & (F.col("rank") == F.col("r_rank")),
            "left",
        )
    )
    return out.select(
        "query_id",
        "vec_id",
        "cosine",
        "rank",
        (
            F.col("probed_hit").isNotNull() == F.col("found_hit").isNotNull()
        ).alias("found_iff_probed"),
        (
            F.col("lsh_cosine").isNull()
            | (F.col("lsh_cosine") <= F.col("cosine"))
        ).alias("lsh_rank_bounded"),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the same self-validating banded output as
    ann_lsh_topk: exact top-k rows (oracle-expressible) plus two
    theorems-for-a-correct-implementation booleans pinned TRUE by the
    oracle. ``found_iff_probed`` here keys on the trained quantizer:
    an exact neighbor is an IVF candidate iff its argmax cell is one
    of the query's nprobe nearest cells — the centroids are
    deterministic (bounded hash-ordered sample, fixed-seed-free
    arithmetic k-means), so the validation recompute sees the same
    cell geometry as the search. Recall itself stays pytest-pinned on
    clustered data (module docstring: noise corpora have no
    accelerable structure)."""
    corpus, queries, dim = _table_corpus_queries(spark, sf_dir)
    cents = ivf_centroids(corpus)
    exact = knn_topk(corpus, queries)
    ivf = ann_ivf(corpus, queries, cents)

    celled = corpus.select(
        "vec_id", _cell_expr(F.col("v"), cents).alias("ncell")
    )
    probe_set = (
        queries.select(
            F.col("query_id").alias("p_qid"),
            F.explode(
                _probe_cells_expr(F.col("qv"), cents, IVF_PROBES)
            ).alias("p_cell"),
        )
        .distinct()
        .withColumn("probed_hit", F.lit(1))
    )
    found = ivf.select(
        F.col("query_id").alias("f_qid"),
        F.col("vec_id").alias("f_vid"),
        F.lit(1).alias("found_hit"),
    )
    ivf_ranks = ivf.select(
        F.col("query_id").alias("r_qid"),
        F.col("rank").alias("r_rank"),
        F.col("cosine").alias("ivf_cosine"),
    )
    out = (
        exact.join(celled, "vec_id")
        .join(
            F.broadcast(probe_set),
            (F.col("query_id") == F.col("p_qid"))
            & (F.col("ncell") == F.col("p_cell")),
            "left",
        )
        .join(
            F.broadcast(found),
            (F.col("query_id") == F.col("f_qid"))
            & (F.col("vec_id") == F.col("f_vid")),
            "left",
        )
        .join(
            F.broadcast(ivf_ranks),
            (F.col("query_id") == F.col("r_qid"))
            & (F.col("rank") == F.col("r_rank")),
            "left",
        )
    )
    return out.select(
        "query_id",
        "vec_id",
        "cosine",
        "rank",
        (
            F.col("probed_hit").isNotNull() == F.col("found_hit").isNotNull()
        ).alias("found_iff_probed"),
        (
            F.col("ivf_cosine").isNull()
            | (F.col("ivf_cosine") <= F.col("cosine"))
        ).alias("ivf_rank_bounded"),
    )


def ann_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF coarse-quantizer ARTIFACT itself: ``(cell, i, c)`` —
    the k×dim centroid table a write-side training job persists and
    every serving job (ann_ivf_topk's inverted file, the
    ann_ivf_assign_batch incremental ingest) loads instead of
    retraining. Registered separately, same rationale as
    embedding_pq_codes / embedding_bucket_index: the STORED model, not
    just search results derived from it, is hash-attested.

    Fully oracle-checked: ivf_centroids' quantized-Lloyd training
    (md5-ordered sample, quantized-dot argmax, exact integer means,
    per-iteration quantized renorm) is mirrored round-for-round in
    DuckDB — the kmeans/PQ oracle pattern at IVF_ITERS rounds. The
    driver-side emission is k×dim ≈ kilobytes (the broadcast-model
    shape; IVF per Jégou et al., TPAMI 2011)."""
    corpus, _queries, _dim = _table_corpus_queries(spark, sf_dir)
    cents = ivf_centroids(corpus)
    rows = [
        (cell, i, float(x))
        for cell, vec in enumerate(cents)
        for i, x in enumerate(vec)
    ]
    df = spark.createDataFrame(rows, "cell int, i int, c double")
    # +0.0 collapses IEEE -0.0 (a component CAN round to zero from
    # below; the driver's sort-then-hash stringifies the sign)
    return df.select(
        "cell", "i", (ex.quantize(F.col("c"), 6) + F.lit(0.0)).alias("c")
    )


def ann_ivf_assign_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest: assign tonight's batch of new vectors
    (the shared ``vec_id % 10`` split) to their nearest STORED
    centroid — no retraining; the quantizer was trained on the stable
    corpus and only the batch-sized assignment pass runs. This is the
    nightly write path of a 100 TB inverted file: batch-proportional
    work appending (vec_id → cell) rows to the celled corpus that
    ann_ivf probes. Assignment is _assign_struct's quantized-dot
    argmax — the same total order the inverted file and the centroid
    artifact's oracle use. Determinism of stored-vs-retrained
    centroids is pinned in tests/test_similarity.py."""
    corpus, _queries, _dim = _table_corpus_queries(spark, sf_dir)
    stable = corpus.where(F.col("vec_id") % IVF_ASSIGN_BATCH_MOD != 0)
    batch = corpus.where(F.col("vec_id") % IVF_ASSIGN_BATCH_MOD == 0)
    cents = ivf_centroids(stable)
    out = batch.select("vec_id", _assign_struct(F.col("v"), cents).alias("a"))
    return out.select(
        "vec_id",
        F.col("a.cluster").alias("cell"),
        (F.col("a.cosine") + F.lit(0.0)).alias("cosine"),
    )


def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF inverted FILE itself: ``(vec_id, cell, cosine)`` over
    the whole corpus — the third leg of the IVF artifact story
    (model = ann_ivf_centroids, file = THIS table, incremental append
    = ann_ivf_assign_batch). This is the celled corpus ann_ivf's
    probe equi-join scans; a write-side job persists it partitioned
    by cell, and nightly batches extend it through the assign-batch
    path without retraining. Hash-attested like the other stored
    representations (the full quantized-Lloyd training CTEs plus one
    quantized-dot argmax assignment pass in the oracle)."""
    corpus, _queries, _dim = _table_corpus_queries(spark, sf_dir)
    cents = ivf_centroids(corpus)
    out = corpus.select(
        "vec_id", _assign_struct(F.col("v"), cents).alias("a")
    )
    return out.select(
        "vec_id",
        F.col("a.cluster").alias("cell"),
        (F.col("a.cosine") + F.lit(0.0)).alias("cosine"),
    )


def _nightly_ivf_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The IVF leg of :func:`~mpi_mapreduce_spark.operators.nightly.
    nightly_curation_update` (ledger, batch key and crash replay are
    the composite's):

    - the QUANTIZER is trained ONCE — the first night's batch is the
      initial corpus — and persisted under ``{index}/centroids``;
      every later night LOADS it and only assigns (production
      retraining is a separate offline decision, not a nightly side
      effect; parquet round-trips the float64 components exactly, so
      loaded-vs-just-trained assignment is bit-identical, and a
      first-night replay re-loads the already-persisted centroids);
    - tonight's batch is assigned to its nearest stored centroid
      (the ann_ivf_assign_batch math — _assign_struct's quantized-dot
      argmax) and APPENDED to the inverted file under
      ``{index}/cells/batch=<bkey>``;
    - a valid-but-empty file trains nothing and appends nothing, so
      the first REAL night still trains as night one.

    Returns eager assignments — vec_id, cell, cosine."""
    import os

    vnew = normalized_corpus(batch).localCheckpoint()
    if vnew.first() is None:
        # a valid-but-empty file: nothing to train on or assign —
        # consume it (ledger commit stays the caller's job), leave
        # the quantizer and inverted file alone
        return vnew.select(
            "vec_id",
            F.lit(0).cast("int").alias("cell"),
            F.lit(0.0).alias("cosine"),
        ).localCheckpoint()

    cent_dir = os.path.join(index_dir, "centroids")
    cells_dir = os.path.join(index_dir, "cells")
    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    if has_committed_parquet(spark, cent_dir):
        rows = spark.read.parquet(cent_dir).orderBy("cell").collect()
        cents = [list(r.c) for r in rows]
    else:
        cents = ivf_centroids(vnew)
        spark.createDataFrame(
            list(enumerate(cents)), "cell int, c array<double>"
        ).write.mode("overwrite").parquet(cent_dir)
    assigned = (
        vnew.select("vec_id", _assign_struct(F.col("v"), cents).alias("a"))
        .select(
            "vec_id",
            F.col("a.cluster").alias("cell"),
            F.col("a.cosine").alias("cosine"),
        )
        .localCheckpoint()
    )
    assigned.write.mode("overwrite").parquet(
        os.path.join(cells_dir, f"batch={bkey}")
    )
    return assigned


def _nightly_ann_lsh_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The ANN-LSH leg of :func:`~mpi_mapreduce_spark.operators.
    nightly.nightly_curation_update` (ledger, batch key and crash
    replay are the composite's): sign-hyperplane bucket ``batch`` (the
    hyperplanes are SEEDED constants, so no train-once step exists at
    all — the simplest leg of the family) and append under
    ``{index}/buckets/batch=<bkey>``. The union of batch partitions IS
    the ann_lsh_bucket_table artifact (pytest-pinned across nights),
    directly servable as ann_lsh's ``corpus_buckets`` input. A
    valid-but-empty file appends nothing.

    Returns eager bucket rows — vec_id, bucket."""
    import os

    vnew = normalized_corpus(batch).localCheckpoint()
    first = vnew.first()
    if first is None:
        # a valid-but-empty file: nothing to bucket — consume it
        # (ledger commit stays the caller's job), append nothing
        return vnew.select(
            "vec_id", F.lit(0).cast("int").alias("bucket")
        ).localCheckpoint()
    dim = len(first.v)
    buckets = vnew.select(
        "vec_id", bucket_expr(F.col("v"), dim).alias("bucket")
    ).localCheckpoint()
    buckets.write.mode("overwrite").parquet(
        os.path.join(index_dir, "buckets", f"batch={bkey}")
    )
    return buckets


def _nightly_pq_core(
    spark: SparkSession, batch: DataFrame, bkey: str, index_dir: str
) -> DataFrame:
    """The PQ leg of :func:`~mpi_mapreduce_spark.operators.nightly.
    nightly_curation_update` (ledger, batch key and crash replay are
    the composite's): the PQ_M×PQ_K CODEBOOKS are trained ONCE (the
    first night's batch is the initial corpus — same train-once
    discipline as the IVF quantizer; parquet round-trips the float64
    components exactly, so loaded-vs-just-trained encoding is
    bit-identical, pytest-pinned) and persisted under
    ``{index}/codebooks``; every later night LOADS them (validated on
    read) and only encodes; tonight's 4-bytes-per-vector codes are
    appended under ``{index}/codes/batch=<bkey>``. A valid-but-empty
    file trains nothing and appends nothing; a batch of the wrong
    dimension raises ValueError.

    Returns eager codes — vec_id, m, code."""
    import os

    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    raw = _raw_corpus(batch).localCheckpoint()
    first = raw.first()
    if first is None:
        # a valid-but-empty file: nothing to train on or encode —
        # consume it (ledger commit stays the caller's job), leave
        # the codebooks and code table alone
        return raw.select(
            "vec_id",
            F.lit(0).cast("long").alias("m"),
            F.lit(0).cast("long").alias("code"),
        ).localCheckpoint()
    if len(first.e) != PQ_M * PQ_SUBDIM:
        # fail loudly, not with an IndexError deep in the encode UDF:
        # the PQ geometry is a deployment constant and a mismatched
        # batch means the WRONG TABLE is being fed to this leg
        raise ValueError(
            f"PQ leg expects {PQ_M * PQ_SUBDIM}-dim vectors "
            f"(PQ_M={PQ_M} x PQ_SUBDIM={PQ_SUBDIM}); got {len(first.e)}"
        )

    book_dir = os.path.join(index_dir, "codebooks")
    codes_dir = os.path.join(index_dir, "codes")
    if has_committed_parquet(spark, book_dir):
        # validate on read, loudly (ADVICE r9): a geometry drift or a
        # foreign row in the stored codebooks would otherwise die as
        # an IndexError here or as a None-centroid crash deep inside
        # the encode UDF — the same failure class the batch-dimension
        # ValueError above already catches for the input side
        rows = spark.read.parquet(book_dir).orderBy("m", "k").collect()
        if len(rows) != PQ_M * PQ_K:
            raise ValueError(
                f"PQ codebook table at {book_dir} has {len(rows)} rows; "
                f"expected PQ_M*PQ_K = {PQ_M * PQ_K} — geometry drift "
                "or a foreign writer"
            )
        cents = [
            [None] * PQ_K for _ in range(PQ_M)
        ]
        for r in rows:
            if not (0 <= r.m < PQ_M and 0 <= r.k < PQ_K):
                raise ValueError(
                    f"PQ codebook row (m={r.m}, k={r.k}) out of range "
                    f"[0,{PQ_M})x[0,{PQ_K}) at {book_dir}"
                )
            if len(r.c) != PQ_SUBDIM:
                raise ValueError(
                    f"PQ codebook centroid (m={r.m}, k={r.k}) has "
                    f"{len(r.c)} dims; expected PQ_SUBDIM={PQ_SUBDIM} "
                    f"at {book_dir}"
                )
            cents[r.m][r.k] = list(r.c)
        if any(c is None for sub in cents for c in sub):
            # row count + ranges can both pass with duplicate (m, k)
            # pairs; a hole means exactly that
            raise ValueError(
                f"PQ codebook table at {book_dir} has duplicate (m, k) "
                "rows leaving unfilled cells"
            )
    else:
        cents = pq_codebooks(raw)
        spark.createDataFrame(
            [
                (mi, k, cents[mi][k])
                for mi in range(PQ_M)
                for k in range(PQ_K)
            ],
            "m int, k int, c array<double>",
        ).write.mode("overwrite").parquet(book_dir)

    codes = (
        raw.select(
            "vec_id",
            F.posexplode(_pq_codes(cents)(F.col("e"))).alias("m", "code"),
        )
        .select(
            "vec_id",
            F.col("m").cast("long").alias("m"),
            F.col("code").cast("long").alias("code"),
        )
        .localCheckpoint()
    )
    codes.write.mode("overwrite").parquet(
        os.path.join(codes_dir, f"batch={bkey}")
    )
    return codes


def _ivf_train_ctes(where_sql: str = "TRUE") -> str:
    """DuckDB mirror of ivf_centroids over the `embeddings` view:
    normalized corpus → md5-ordered sample (+ optional split filter)
    → init from the first IVF_CELLS sample rows → IVF_ITERS rounds of
    {quantized-dot argmax assignment, exact quantized means, left-fold
    renorm, per-iteration quantize}. Ends at CTE ``ivf_c{IVF_ITERS}``
    = (cell, c list)."""
    q = ex.sql_quantize
    parts = [f"""
    WITH raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, {_sql_norm('e')} AS v FROM raw
    ), samp AS (
      SELECT vec_id, v FROM n WHERE {where_sql}
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {IVF_SAMPLE}
    ), ivf_c0 AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
               AS cell,
             v AS c
      FROM samp ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {IVF_CELLS}
    )"""]
    for t in range(1, IVF_ITERS + 1):
        parts.append(f"""
    , ivf_a{t} AS (
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, cc.cell,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY {q('list_dot_product(s.v, cc.c)', 6)} DESC,
                          cc.cell ASC
               ) AS rn
        FROM samp s CROSS JOIN ivf_c{t - 1} cc
      ) WHERE rn = 1
    ), ivf_m{t} AS (
      SELECT a.cell, u.i, {ex.sql_avg('u.x', 6)} AS m
      FROM ivf_a{t} a JOIN (
        SELECT vec_id, unnest(range(len(v))) AS i, unnest(v) AS x
        FROM samp
      ) u USING (vec_id)
      GROUP BY a.cell, u.i
    ), ivf_r{t} AS (
      SELECT cell, list(m ORDER BY i) AS c FROM ivf_m{t} GROUP BY cell
    ), ivf_c{t} AS (
      SELECT p.cell,
             CASE WHEN r.c IS NULL THEN p.c
                  ELSE list_transform(
                         {_sql_norm('r.c')},
                         x -> ROUND(x * 1000000.0) / 1000000.0
                       )
             END AS c
      FROM ivf_c{t - 1} p LEFT JOIN ivf_r{t} r USING (cell)
    )""")
    return "".join(parts)


def _ivf_centroids_oracle() -> str:
    return _ivf_train_ctes() + f"""
    SELECT CAST(cell AS INT) AS cell, CAST(i AS INT) AS i,
           ROUND(x * 1000000.0) / 1000000.0 + 0.0 AS c
    FROM (
      SELECT cell, unnest(range(len(c))) AS i, unnest(c) AS x
      FROM ivf_c{IVF_ITERS}
    )
    """


def _ivf_assign_sql(src_cte: str) -> str:
    """Quantized-dot argmax assignment of `src_cte` (vec_id, v) rows
    against the trained ivf_c{IVF_ITERS} centroids — the shared tail
    of the inverted-file and assign-batch oracles."""
    q = ex.sql_quantize
    return f"""
    SELECT vec_id, cell, cosine FROM (
      SELECT b.vec_id, CAST(cc.cell AS INT) AS cell,
             {q('list_dot_product(b.v, cc.c)', 6)} + 0.0 AS cosine,
             row_number() OVER (
               PARTITION BY b.vec_id
               ORDER BY {q('list_dot_product(b.v, cc.c)', 6)} DESC,
                        cc.cell ASC
             ) AS rn
      FROM {src_cte} b CROSS JOIN ivf_c{IVF_ITERS} cc
    ) WHERE rn = 1
    """


def _ivf_assign_batch_oracle() -> str:
    mod = IVF_ASSIGN_BATCH_MOD
    return (
        _ivf_train_ctes(f"vec_id % {mod} <> 0")
        + f"""
    , batch AS (SELECT vec_id, v FROM n WHERE vec_id % {mod} = 0)
    """
        + _ivf_assign_sql("batch")
    )


def _ivf_cells_oracle() -> str:
    return _ivf_train_ctes() + _ivf_assign_sql("n")


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the k-means/IVF "update" step, and
    the class-prototype builder for nearest-centroid classification).

    Shape at scale: posexplode multiplies rows by the dimension but
    stays in whole-stage codegen; the (label, pos) aggregate gets
    map-side combine so the shuffle carries O(labels × dims) partial
    sums, not O(rows × dims) values. Means are exact quantized sums
    over int64 divided by the count (functions/exact.py) — identical
    doubles at any parallelism. Long output format (one row per
    (label, dimension)) keeps the oracle compare scalar."""
    emb = load_table(spark, sf_dir, "embeddings")
    parts = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return parts.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        F.count("*").alias("n_vecs"),
        ex.quantized_avg(F.col("v").cast("double"), 6).alias("centroid"),
    )


ORACLE_CENTROIDS = f"""
    WITH p AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    )
    SELECT label, pos, COUNT(*) AS n_vecs,
           {ex.sql_avg('CAST(v AS DOUBLE)', 6)} AS centroid
    FROM p GROUP BY label, pos
"""

OUTLIER_PCT = 0.05


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector embedding-quality score: cosine to the vector's own
    label centroid, with the bottom 5% of each label flagged — the
    embedding-space outlier filter (mislabeled / off-distribution
    docs) a curation pipeline applies before sampling.

    Deterministic end-to-end so the oracle hash-compares: centroids
    are exact quantized per-dim means (embedding_label_centroids'
    discipline), both sides normalize then left-fold dot (the proven
    KNN-oracle formulation), scores quantize to 6 decimals, and the
    flag compares each score against its label's exact interpolated
    5th percentile of those quantized scores (computed once per label
    and broadcast back — labels × 1 row, not a window over the
    corpus). The cut itself is quantized back to the same 1e-6 grid
    the scores live on: when the interpolation neighbors are equal,
    Spark's a*(1-t)+a*t can come back a±ulp while DuckDB returns
    exactly a, and an unquantized strict < would flip boundary
    rows."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VEC.as_double(F.col("embedding")).alias("e")
    )
    parts = emb.select("label", F.posexplode("e").alias("pos", "v"))
    cent_long = parts.groupBy("label", "pos").agg(
        ex.quantized_avg("v", 6).alias("c")
    )
    cent = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        ex.quantize(
            VEC.dot_arrow(
                VEC.normalize_arrow(F.col("e")),
                VEC.normalize_arrow(F.col("cv")),
            ),
            6,
        ).alias("cos_centroid"),
    )
    cuts = scored.groupBy("label").agg(
        ex.quantize(
            F.percentile("cos_centroid", F.lit(OUTLIER_PCT)), 6
        ).alias("p_cut")
    )
    return scored.join(F.broadcast(cuts), "label").select(
        "vec_id",
        "label",
        "cos_centroid",
        (F.col("cos_centroid") < F.col("p_cut")).alias("is_outlier"),
    )


ORACLE_OUTLIERS = f"""
    WITH p AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    ), cent_long AS (
      SELECT label, pos, {ex.sql_avg('CAST(v AS DOUBLE)', 6)} AS c
      FROM p GROUP BY label, pos
    ), cent AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM cent_long GROUP BY label
    ), e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), scored AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(
               list_transform(e.e, x -> x / sqrt(list_dot_product(e.e, e.e))),
               list_transform(c.cv, x -> x / sqrt(list_dot_product(c.cv, c.cv)))
             ) * 1000000.0) / 1000000.0 AS cos_centroid
      FROM e JOIN cent c USING (label)
    ), cuts AS (
      SELECT label,
             {ex.sql_quantize(f'quantile_cont(cos_centroid, {OUTLIER_PCT})', 6)}
               AS p_cut
      FROM scored GROUP BY label
    )
    SELECT s.vec_id, s.label, s.cos_centroid,
           s.cos_centroid < c.p_cut AS is_outlier
    FROM scored s JOIN cuts c USING (label)
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization — the storage/bandwidth lever for 100 TB ANN
# ---------------------------------------------------------------------------

#: symmetric int8 levels: q_i = round(x_i * 127 / max|x|), so the
#: vector's own max magnitude maps to ±127 (per-vector scale — the
#: standard scalar-quantization scheme ANN stores use to cut embedding
#: bytes 4x before an exact-rescore pass)
INT8_LEVELS = 127
INT8_EPS = 1e-12


def int8_quant_stats(emb: DataFrame) -> DataFrame:
    """Per-vector int8 scalar quantization with reconstruction audit:
    (vec_id, dim, q_sum, scale, l2_err, max_abs_err).

    ``q_sum`` (exact int64 sum of the quantized codes) pins the codes
    themselves in the oracle hash, not just derived errors. One
    Arrow-batched stage computes everything; per-element math is plain
    IEEE ops (float32 widened exactly to float64, one multiply, one
    divide, floor of x+0.5) so DuckDB reproduces it bit-for-bit, and
    the l2 fold is a strict sequential cumsum — the same left fold as
    list_dot_product (see functions.vectors). Stateless projection:
    no shuffle at any scale; at 100 TB this runs as a map over the
    corpus scan, and the int8 codes it would emit are the 4x-smaller
    payload the rescore stages read."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<dim:long,q_sum:long,scale:double,"
        "l2_err:double,max_abs_err:double>"
    )
    def _stats(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.DataFrame(
                {c: [] for c in ("dim", "q_sum", "scale", "l2_err", "max_abs_err")}
            )
        m = np.vstack(xs.to_numpy()).astype(np.float64)
        mag = np.maximum(np.max(np.abs(m), axis=1), INT8_EPS)
        q = np.floor(m * float(INT8_LEVELS) / mag[:, None] + 0.5)
        scale = mag / float(INT8_LEVELS)
        diff = m - q * scale[:, None]
        sq = diff * diff
        return pd.DataFrame(
            {
                "dim": np.full(len(m), m.shape[1], dtype=np.int64),
                "q_sum": q.sum(axis=1).astype(np.int64),
                "scale": scale,
                # cumsum = sequential left fold (bit-equal to
                # list_dot_product's fold in the oracle)
                "l2_err": np.sqrt(np.cumsum(sq, axis=1)[:, -1]),
                "max_abs_err": np.max(np.abs(diff), axis=1),
            }
        )

    return emb.select(
        "vec_id", _stats(VEC.as_double(F.col("embedding"))).alias("st")
    )


def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered audit of int8 quantization over the embeddings
    table. ``within_bound`` pins the analytic error bound (round-to-
    nearest ⇒ |err| ≤ scale/2) as an always-TRUE invariant the oracle
    asserts literally; errors are quantized at 1e-9 (they live at the
    1e-5 scale of scale/2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = int8_quant_stats(emb)
    return s.select(
        "vec_id",
        F.col("st.dim").alias("dim"),
        F.col("st.q_sum").alias("q_sum"),
        ex.quantize(F.col("st.scale"), 9).alias("scale_q"),
        ex.quantize(F.col("st.l2_err"), 9).alias("l2_err_q"),
        ex.quantize(F.col("st.max_abs_err"), 9).alias("max_abs_err_q"),
        (
            F.col("st.max_abs_err")
            <= F.col("st.scale") * 0.5 + F.lit(INT8_EPS)
        ).alias("within_bound"),
    )


#: Matryoshka truncation tiers audited by embedding_matryoshka_quality
MRL_TIERS = (8, 16, 32, 64)


def embedding_matryoshka_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-truncation quality audit (r11): for each prefix
    tier d ∈ {8, 16, 32, 64}, the cosine between every embedding and
    its d-prefix truncation — which reduces in closed form to
    sqrt(energy_d / energy_total), the fraction of the vector's L2
    mass the prefix retains — rolled up per tier as (n_vectors, avg,
    min). This is THE adoption question for MRL-style embeddings in a
    100 TB store ('how many dims can serving truncate to before
    recall collapses?'), answered from the table itself before anyone
    re-indexes. Per-vector cosines are a fixed-order left-fold of
    one-multiply squares (bit-identical across engines), quantized at
    1e-6 BEFORE the exact integer-sum average (functions.exact
    discipline); plan is one scan + per-tier projections unioned —
    no shuffle until the 4-group rollup."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "e"
        ),
    )

    def _energy(col):
        return F.aggregate(
            col, F.lit(0.0), lambda acc, x: acc + x * x
        )

    total = _energy(F.col("e"))
    per_tier = [
        emb.select(
            F.lit(d).cast("long").alias("dim_tier"),
            F.sqrt(_energy(F.slice("e", 1, d)) / total).alias("cosr"),
        )
        for d in MRL_TIERS
    ]
    out = per_tier[0]
    for t in per_tier[1:]:
        out = out.unionByName(t)
    return out.groupBy("dim_tier").agg(
        F.count("*").alias("n_vectors"),
        ex.quantized_avg("cosr", 6).alias("avg_retained_cosine"),
        F.min(ex.quantize(F.col("cosr"), 6)).alias("min_retained_cosine"),
    )


ORACLE_MATRYOSHKA = f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), t AS (
      SELECT vec_id, e,
             list_sum(list_transform(e, x -> x * x)) AS tot
      FROM v
    ), tiers AS (
      SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS dim_tier
    ), c AS (
      SELECT dim_tier,
             sqrt(list_sum(list_transform(e[1:dim_tier], x -> x * x))
                  / tot) AS cosr
      FROM t, tiers
    )
    SELECT dim_tier,
           COUNT(*) AS n_vectors,
           {ex.sql_avg("cosr", 6)} AS avg_retained_cosine,
           MIN({ex.sql_quantize("cosr", 6)}) AS min_retained_cosine
    FROM c GROUP BY dim_tier
"""


#: screening slack ≥ the 1e-6 quantize step of the final cosine — see
#: the displacement proof in knn_topk_int8_screened
INT8_SCREEN_MARGIN = 1e-6


def knn_topk_int8_screened(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-k (k = TOP_K) via int8-screened search: approximate every
    query-corpus score from the 4x-smaller int8 codes, keep only
    vectors whose error interval can still reach the top-k, and
    exact-rescore that candidate set. Output is PROVABLY the true
    top-k (same result as knn_topk), which is why it carries the full
    exact oracle rather than a banded one.

    Bound: exact = approx ± err with err = scale·‖q‖₁/2 (per-element
    quantization error ≤ scale/2, folded through the dot). With
    L = k-th largest lower bound (approx − err), any vector with
    approx + err + margin < L has exact score > margin below at least
    k others, so after the 1e-6 quantize its rounded cosine is
    STRICTLY smaller — it cannot displace a top-k row even via the
    vec_id tiebreak. margin = the quantize step closes the rounding
    edge case.

    At 100 TB the point is bandwidth: the screening pass reads 1 byte
    per element instead of 8 (the codes column is what an index node
    stores), and only the candidate sliver — here a few % of rows,
    pytest-asserted — touches the full-precision vectors."""
    from pyspark.sql.functions import pandas_udf

    k = TOP_K

    @pandas_udf("struct<codes: array<double>, scale: double>")
    def _codes(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.DataFrame({"codes": [], "scale": []})
        m = np.vstack(xs.to_numpy())
        mag = np.maximum(np.max(np.abs(m), axis=1), INT8_EPS)
        q = np.floor(m * float(INT8_LEVELS) / mag[:, None] + 0.5)
        return pd.DataFrame(
            {"codes": list(q), "scale": mag / float(INT8_LEVELS)}
        )

    c8 = corpus.select("vec_id", "v", _codes(F.col("v")).alias("c8"))
    q = queries.select(
        "query_id",
        "qv",
        F.aggregate(
            F.transform("qv", lambda x: F.abs(x)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("l1q"),
    )
    approx = F.col("c8.scale") * VEC.dot_arrow(F.col("qv"), F.col("c8.codes"))
    err = F.col("c8.scale") * F.lit(0.5) * F.col("l1q")
    scored = (
        c8.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "qv",
            "v",
            approx.alias("approx"),
            err.alias("err"),
        )
        .withColumn("lb", F.col("approx") - F.col("err"))
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("lb"), F.asc("vec_id"))
    s1 = scored.withColumn("rnk", F.row_number().over(wr))
    s2 = s1.withColumn(
        "cut",
        F.coalesce(
            F.max(F.when(F.col("rnk") == k, F.col("lb"))).over(
                W.partitionBy("query_id")
            ),
            F.lit(-2.0),  # corpus smaller than k: keep everything
        ),
    )
    cand = s2.where(
        F.col("approx") + F.col("err") + F.lit(INT8_SCREEN_MARGIN)
        >= F.col("cut")
    )
    rescored = cand.select(
        "query_id",
        "vec_id",
        ex.quantize(VEC.dot_arrow(F.col("qv"), F.col("v")), 6).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered int8-screened exact top-k over the embeddings table
    (full exact oracle — the screening provably never changes the
    result; see knn_topk_int8_screened)."""
    corpus, queries, _ = _table_corpus_queries(spark, sf_dir)
    return knn_topk_int8_screened(corpus, queries)


ORACLE_INT8_QUANTIZE = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), m AS (
      SELECT vec_id, e,
             greatest(list_max(list_transform(e, x -> abs(x))), {INT8_EPS})
               AS mag
      FROM e
    ), q AS (
      SELECT vec_id, e, mag / {INT8_LEVELS}.0 AS scale,
             list_transform(e, x -> floor(x * {INT8_LEVELS}.0 / mag + 0.5))
               AS qv
      FROM m
    ), d AS (
      SELECT vec_id, e, scale, qv,
             list_transform(range(len(e)),
                            i -> e[i+1] - qv[i+1] * scale) AS diff
      FROM q
    )
    SELECT vec_id,
           CAST(len(e) AS BIGINT) AS dim,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           ROUND(scale * 1000000000.0) / 1000000000.0 AS scale_q,
           ROUND(sqrt(list_dot_product(diff, diff)) * 1000000000.0)
             / 1000000000.0 AS l2_err_q,
           ROUND(list_max(list_transform(diff, x -> abs(x)))
                 * 1000000000.0) / 1000000000.0 AS max_abs_err_q,
           list_max(list_transform(diff, x -> abs(x)))
             <= scale * 0.5 + {INT8_EPS} AS within_bound
    FROM d
"""


_KNN_CTE = f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS v
      FROM v
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_dot_product(q.v, c.v) * 1000000.0) / 1000000.0 AS cosine
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
"""

ORACLE_KNN = _KNN_CTE + f"""
    SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {TOP_K}
"""

# banded shape (relational.py approx_distinct_counts): the engine's
# LSH-vs-exact invariant booleans are deterministically TRUE for a
# correct implementation, so the oracle recomputes the exact side and
# pins the flags as literal TRUE (the LSH bucket structure itself is
# not SQL-expressible).
ORACLE_ANN_LSH = _KNN_CTE + f"""
    SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank,
           TRUE AS found_iff_probed,
           TRUE AS lsh_rank_bounded
    FROM ranked WHERE rank <= {TOP_K}
"""

ORACLE_ANN_IVF = _KNN_CTE + f"""
    SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank,
           TRUE AS found_iff_probed,
           TRUE AS ivf_rank_bounded
    FROM ranked WHERE rank <= {TOP_K}
"""

# ---------------------------------------------------------------------------
# Distributed spherical k-means over the full corpus — the clustering
# stage of SemDeDup-style semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540) and a trainable coarse quantizer. Unlike
# ivf_centroids (driver-side numpy over a bounded SAMPLE), the Lloyd
# update here is a DISTRIBUTED exact aggregate over every vector, so
# the operator itself scales with the corpus; only the k×dim centroid
# table crosses the driver boundary each round (kilobytes — the same
# bounded-collect contract as ivf_centroids, an AQE-style runtime
# statistic, not a data collect).
# ---------------------------------------------------------------------------

KMEANS_K = 8
#: assignment rounds (assign → exact-mean update → assign): fixed and
#: deterministic so the DuckDB oracle can mirror the arithmetic
#: round-for-round. Production tuning raises it; the oracle pattern
#: extends mechanically (one more CTE pair per round).
KMEANS_ROUNDS = 2


def _assign_struct(vec_col: F.Column, cents: list[list[float]]) -> F.Column:
    """struct(cluster, cosine): nearest centroid by QUANTIZED dot
    (scale 6, half-away-from-zero — the engine's cross-engine rounding
    convention), ties to the lowest cluster id. Quantizing BEFORE the
    argmax makes the winner identical in Spark and DuckDB even when
    two dots differ only in the last ulp. Arrow-batched; the centroid
    matrix ships in the closure (a broadcast variable in cluster
    terms); dots are cumsum left-folds, bit-equal to
    list_dot_product."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("cluster int, cosine double")
    def _assign(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.DataFrame(
                {
                    "cluster": pd.Series([], dtype="int32"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        m = np.vstack(xs.to_numpy())
        c = np.asarray(cents, dtype=np.float64)
        dots = np.stack(
            [np.cumsum(m * c[j], axis=1)[:, -1] for j in range(len(c))],
            axis=1,
        )
        # ROUND-half-away-from-zero at scale 6 (np.round is banker's)
        q = (
            np.where(
                dots >= 0,
                np.floor(dots * 1e6 + 0.5),
                np.ceil(dots * 1e6 - 0.5),
            )
            / 1e6
        )
        best = np.argmax(q, axis=1)  # first max = lowest cluster id
        return pd.DataFrame(
            {
                "cluster": best.astype(np.int32),
                "cosine": q[np.arange(len(m)), best],
            }
        )

    return _assign(vec_col)


def kmeans_assignments(emb: DataFrame, keep_vec: bool = False) -> DataFrame:
    """(vec_id, cluster, cosine) after KMEANS_ROUNDS deterministic Lloyd
    assignment rounds over a normalized ``(vec_id, v)`` frame.
    ``keep_vec=True`` additionally carries ``v`` through the final
    assignment projection, so downstream per-cluster work (SemDeDup's
    prune) gets the vector WITHOUT a corpus self-join on vec_id.

    - init: the vectors of the KMEANS_K lowest vec_ids (k-row bounded
      collect; reproducible at any parallelism — no RNG);
    - update: EXACT per-component mean via the engine's quantized-sum
      discipline (posexplode → groupBy(cluster, i) → quantized_avg at
      scale 6), so the distributed mean is order-independent and
      SQL-mirrorable (functions/exact.py); the k×dim result is
      collected (bounded), renormalized driver-side with the same
      left-fold norm the oracle's list_dot_product uses, and
      re-broadcast; empty clusters keep their previous centroid;
    - assignment: quantized-dot argmax (see _assign_struct).

    Per round: one corpus-wide Arrow assignment pass + one grouped
    aggregate with map-side combine on (cluster, i) keys — shuffle
    volume k·dim rows. No stage touches more than O(n·dim) data."""
    import numpy as np

    cents = [list(r.v) for r in emb.orderBy("vec_id").limit(KMEANS_K).collect()]
    for _ in range(KMEANS_ROUNDS - 1):
        # the vector rides the assignment projection — the update
        # aggregate needs (cluster, v) and both live on the same row,
        # so there is no self-join back onto emb (previously two
        # exchanges + a sort-merge join per round just to re-attach v)
        comp = emb.select(
            _assign_struct(F.col("v"), cents)["cluster"].alias("cluster"),
            F.posexplode("v").alias("i", "x"),
        )
        mrows = (
            comp.groupBy("cluster", "i")
            .agg(ex.quantized_avg("x", 6).alias("m"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in mrows:
            by_c.setdefault(r.cluster, {})[r.i] = r.m
        new_cents = []
        for j, prev in enumerate(cents):
            if j in by_c:
                c = np.array(
                    [by_c[j][i] for i in range(len(prev))], dtype=np.float64
                )
                nrm = np.sqrt(np.cumsum(c * c)[-1])
                new_cents.append((c / nrm).tolist() if nrm > 0 else c.tolist())
            else:
                new_cents.append(prev)
        cents = new_cents
    out = emb.select(
        "vec_id",
        *(["v"] if keep_vec else []),
        _assign_struct(F.col("v"), cents).alias("a"),
    )
    return out.select(
        "vec_id",
        *(["v"] if keep_vec else []),
        F.col("a.cluster").alias("cluster"),
        F.col("a.cosine").alias("cosine"),
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered k-means: cluster id + quantized cosine-to-centroid
    per vector, fully oracle-checked (every arithmetic step — init,
    quantized-dot argmax, exact quantized means, left-fold
    renormalization — is mirrored CTE-for-CTE in DuckDB)."""
    return kmeans_assignments(
        normalized_corpus(load_table(spark, sf_dir, "embeddings"))
    )


def _sql_norm(c: str) -> str:
    """x / sqrt(Σx²) with the zero-norm guard normalize_arrow uses."""
    return (
        f"CASE WHEN list_dot_product({c}, {c}) > 0 "
        f"THEN list_transform({c}, x -> x / sqrt(list_dot_product({c}, {c}))) "
        f"ELSE {c} END"
    )


#: shared CTE chain: normalized corpus → init centroids → assignment 0
#: → exact quantized means → renormalized centroids → final assignment
#: (a1: one row per vec_id with cluster + quantized cosine). Mirrors
#: kmeans_assignments round-for-round at KMEANS_ROUNDS = 2.
KMEANS_SQL_CTE = f"""
    WITH raw AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id,
             CASE WHEN list_dot_product(e, e) > 0
                  THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                  ELSE e END AS v
      FROM raw
    ), init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
      FROM n ORDER BY vec_id LIMIT {KMEANS_K}
    ), a0 AS (
      SELECT vec_id, cluster FROM (
        SELECT n.vec_id, i.cluster,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY {ex.sql_quantize('list_dot_product(n.v, i.c)', 6)} DESC,
                          i.cluster ASC
               ) AS rn
        FROM n CROSS JOIN init i
      ) WHERE rn = 1
    ), comp0 AS (
      SELECT a0.cluster, u.i, u.x
      FROM a0 JOIN (
        SELECT vec_id, unnest(range(len(v))) AS i, unnest(v) AS x FROM n
      ) u USING (vec_id)
    ), m1 AS (
      SELECT cluster, i, {ex.sql_avg('x', 6)} AS m
      FROM comp0 GROUP BY cluster, i
    ), c1raw AS (
      SELECT cluster, list(m ORDER BY i) AS c FROM m1 GROUP BY cluster
    ), c1 AS (
      SELECT i.cluster,
             CASE WHEN r.c IS NULL THEN i.c
                  ELSE {_sql_norm('r.c')} END AS c
      FROM init i LEFT JOIN c1raw r USING (cluster)
    ), a1 AS (
      SELECT vec_id, cluster, q AS cosine FROM (
        SELECT n.vec_id, c1.cluster,
               {ex.sql_quantize('list_dot_product(n.v, c1.c)', 6)} AS q,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY {ex.sql_quantize('list_dot_product(n.v, c1.c)', 6)} DESC,
                          c1.cluster ASC
               ) AS rn
        FROM n CROSS JOIN c1
      ) WHERE rn = 1
    )
"""

ORACLE_KMEANS = KMEANS_SQL_CTE + """
    SELECT vec_id, cluster, cosine FROM a1
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-compression scale path
# ---------------------------------------------------------------------------

#: 64-dim embeddings → 4 subspaces × 16 dims, 16 centroids each:
#: a vector compresses to 4 bytes of codes (16× smaller than float32),
#: which is what makes billion-vector ANN fit executor memory at all
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 16


def _raw_corpus(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", VEC.as_double(F.col("embedding")).alias("e")
    )


def _pq_codes(cents: list[list[list[float]]]):
    """pandas_udf: full vector → array of PQ_M codes. Per subspace:
    quantized (scale 6, half-away) L2 to each of the K centroids via a
    cumsum left fold (bit-equal to the oracle's list_dot_product of
    the difference), argmin with first-min = lowest code."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _codes(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.Series([], dtype="object")
        m = np.vstack(xs.to_numpy())
        out = np.empty((len(m), PQ_M), dtype=np.int32)
        for mi in range(PQ_M):
            sub = m[:, mi * PQ_SUBDIM : (mi + 1) * PQ_SUBDIM]
            c = np.asarray(cents[mi], dtype=np.float64)
            d = np.stack(
                [
                    np.cumsum((sub - c[k]) ** 2, axis=1)[:, -1]
                    for k in range(len(c))
                ],
                axis=1,
            )
            q = np.floor(d * 1e6 + 0.5) / 1e6  # d >= 0: half-away
            out[:, mi] = np.argmin(q, axis=1)
        return pd.Series(list(out))

    return _codes


def pq_codebooks(raw: DataFrame) -> list[list[list[float]]]:
    """Train PQ_M codebooks of PQ_K centroids with one deterministic
    quantized-Lloyd update (the kmeans_assignments recipe per
    subspace, L2 on raw values, no renormalization):

    - init: subvector slices of the PQ_K lowest vec_ids (bounded
      collect, no RNG);
    - assign: one Arrow pass codes ALL subspaces (the corpus is read
      once per round, not once per subspace);
    - update: posexplode splits the global dim index into (m, i);
      grouped exact quantized means on (m, code, i) — map-side
      combine, PQ_M·PQ_K·PQ_SUBDIM = 1024 result rows collected;
      empty cells keep their previous centroid."""
    first = raw.orderBy("vec_id").limit(PQ_K).collect()
    # fewer training rows than PQ_K (a tiny first nightly batch):
    # cycle the available rows deterministically — identical to the
    # original init whenever the corpus has >= PQ_K vectors
    cents = [
        [
            list(
                first[k % len(first)].e[
                    mi * PQ_SUBDIM : (mi + 1) * PQ_SUBDIM
                ]
            )
            for k in range(PQ_K)
        ]
        for mi in range(PQ_M)
    ]
    # Shape note (r13 A/B at sf0.1, warm session): fusing the code
    # lookup into the component explode (element_at into a codes array
    # carried through the Generate) measured 2.29 s vs 0.83 s for THIS
    # split shape — the code explode is only PQ_M rows/vec, so AQE
    # broadcast-joins it locally and the 64n-row component branch
    # never crosses the Python boundary or carries the array; at scale
    # both sides are corpus-shaped and AQE correctly falls back to a
    # co-keyed shuffle (no hint on purpose). Keep the split.
    cm = raw.select(
        "vec_id", F.posexplode(_pq_codes(cents)(F.col("e"))).alias("m", "code")
    )
    comp = raw.select(
        "vec_id", F.posexplode("e").alias("gi", "x")
    ).select(
        "vec_id",
        (F.col("gi") / F.lit(PQ_SUBDIM)).cast("int").alias("m"),
        (F.col("gi") % F.lit(PQ_SUBDIM)).alias("i"),
        "x",
    )
    mrows = (
        comp.join(cm, ["vec_id", "m"])
        .groupBy("m", "code", "i")
        .agg(ex.quantized_avg("x", 6).alias("mean"))
        .collect()
    )
    by_cell: dict[tuple[int, int], dict[int, float]] = {}
    for r in mrows:
        by_cell.setdefault((r.m, r.code), {})[r.i] = r.mean
    return [
        [
            (
                [by_cell[(mi, k)][i] for i in range(PQ_SUBDIM)]
                if (mi, k) in by_cell
                else cents[mi][k]
            )
            for k in range(PQ_K)
        ]
        for mi in range(PQ_M)
    ]


def _l2_fold(a, b):
    """Σ (a_i - b_i)² as a sequential left fold — mirror of the
    oracle's list_dot_product over the difference list. Interpreted
    HOF, used only on bounded frames (queries × centroids)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: top-k by asymmetric-distance (ADC)
    over 4-byte PQ codes. The similarity family's compression tier —
    brute/int8/LSH/IVF bound compute; PQ bounds MEMORY (16× smaller
    corpus representation), the binding constraint for billion-vector
    serving.

    Plan at scale: codebook training is bounded driver collects (1024
    doubles/round); encoding is one Arrow pass (the write-side
    compression job); the query LUT is N_QUERIES·PQ_M·PQ_K = 320
    quantized L2 values built on bounded frames and broadcast; the
    scoring scan is linear over the CODES (n·4 ints, not n·64
    floats) joined to the broadcast LUT with map-side combine on
    (query, vec). Fully oracle-checked: every arithmetic step (init
    slices, quantized-L2 argmin, exact quantized means, LUT, ADC sum,
    rank) is mirrored CTE-for-CTE in DuckDB."""
    return pq_adc_topk(_raw_corpus(load_table(spark, sf_dir, "embeddings")))


def _pq_adc_scores(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared ADC front half of the PQ searches: train codebooks,
    encode the corpus, build the broadcast query LUT, and return
    ``(ad, queries)`` — asymmetric distances per (query, vec) and the
    (query_id, qe) frame for callers that re-rank."""
    cents = pq_codebooks(raw)
    codes = raw.select(
        "vec_id", F.posexplode(_pq_codes(cents)(F.col("e"))).alias("m", "code")
    )
    queries = raw.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    centframe = raw.sparkSession.createDataFrame(
        [
            (mi, k, cents[mi][k])
            for mi in range(PQ_M)
            for k in range(PQ_K)
        ],
        "m int, code int, c array<double>",
    )
    lut = queries.crossJoin(F.broadcast(centframe)).select(
        "query_id",
        "m",
        "code",
        ex.quantize(
            _l2_fold(
                F.slice(F.col("qe"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM),
                F.col("c"),
            ),
            6,
        ).alias("d2"),
    )
    ad = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(ex.quantized_sum("d2", 6).alias("adist"))
    )
    return ad, queries


def pq_adc_topk(raw: DataFrame) -> DataFrame:
    """Core of :func:`ann_pq_topk` over any (vec_id, e: array<double>)
    frame with dim = PQ_M · PQ_SUBDIM — separated so tests can run the
    full train/encode/score pipeline on planted clustered corpora, and
    the scale rehearsal can widen the query batch (N_QUERIES)."""
    ad, _ = _pq_adc_scores(raw)
    w = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        ad.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "adist", "rank")
    )


#: ADC shortlist width for the exact re-rank — the standard
#: accuracy/IO trade of IVF-PQ serving stacks (FAISS's k_factor).
#: Re-chosen by the round-6 sweep (tools/ann_recall.py, SCALING.md
#: shortlist table): on the 100k separated corpus the wall is
#: dominated by the shared ADC scan, so widening 50 → 100 costs
#: nothing measurable and lifts planted-partner recall 0.955 → 0.984
#: (= IVF's); 200 buys 0.997 at ~1.3×.
PQ_RERANK_SHORTLIST = 100


def pq_rerank_topk(raw: DataFrame) -> DataFrame:
    """PQ search with exact re-rank — the production serving shape:
    the linear ADC scan over 4-byte codes produces a per-query
    SHORTLIST (top-PQ_RERANK_SHORTLIST by asymmetric distance), and only
    those rows fetch their full float vectors for an exact quantized
    L2 re-rank. Compute: the corpus-sized pass still touches only
    codes (the memory win PQ exists for); the exact distance runs on
    shortlist·queries rows — bounded, broadcast-joined against the
    query frame. Recall becomes shortlist-membership-bounded instead
    of ADC-top-k-bounded, which is why every serving stack layers
    this on top of PQ (Jégou et al. 2011's ADC + re-ranking)."""
    ad, queries = _pq_adc_scores(raw)
    w1 = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    short = (
        ad.withColumn("arank", F.row_number().over(w1))
        .where(F.col("arank") <= PQ_RERANK_SHORTLIST)
        .select("query_id", "vec_id")
    )
    # the shortlist is bounded (N_QUERIES · PQ_RERANK_SHORTLIST rows)
    # — broadcast it so the full-vector corpus is probed in place,
    # never shuffled on vec_id
    rescored = (
        F.broadcast(short).join(raw, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            ex.quantize(_l2_fold(F.col("qe"), F.col("e")), 6).alias("dist"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "dist", "rank")
    )


def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`pq_rerank_topk` on the embeddings
    table. Fully oracle-checked: the DuckDB mirror extends the shared
    ADC CTE chain with the shortlist window and the exact full-vector
    L2 re-rank."""
    return pq_rerank_topk(_raw_corpus(load_table(spark, sf_dir, "embeddings")))


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    query vector, the top-k most-similar vectors with a DIFFERENT
    label — the pairs that carry the training signal (easy negatives
    are uninformative; InfoNCE-style objectives live on these).

    Same plan as knn_bruteforce (queries broadcast, linear corpus
    scan, Arrow dot, windowed top-k) with the label-inequality pushed
    into the join condition, so mismatched-label pairs never reach
    the ranking. Output: (query_id, vec_id, neg_label, cosine, rank)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = normalized_corpus(emb).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    dot = VEC.dot_arrow(F.col("qv"), F.col("v"))
    scored = corpus.join(
        F.broadcast(queries),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        ex.quantize(dot, 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


ORACLE_HARD_NEGATIVES = f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS v
      FROM v
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             c.label AS neg_label,
             ROUND(list_dot_product(q.v, c.v) * 1000000.0) / 1000000.0
               AS cosine
      FROM n q JOIN n c
        ON q.vec_id < {N_QUERIES}
       AND c.vec_id <> q.vec_id
       AND c.label <> q.label
    )
    SELECT query_id, vec_id, neg_label, cosine,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, cov): the exact dim×dim covariance matrix of the
    embedding corpus — the statistic whitening, PCA initialization,
    and anisotropy diagnostics read before any projection/compression
    step (e.g. ahead of the PQ/int8 paths above).

    cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j], with the product moment
    quantized per row (scale 6) before the order-independent
    quantized mean — deterministic at any parallelism, mirrored
    exactly in SQL. Plan: one posexplode self-join per vector expands
    to dim² rows which immediately grouped-aggregate onto dim² = 4096
    keys with map-side combine — the shuffle carries one partial per
    key per partition regardless of corpus size, the canonical
    distributed-covariance shape. Upper triangle only (i ≤ j): the
    matrix is symmetric, no reason to shuffle it twice."""
    raw = _raw_corpus(load_table(spark, sf_dir, "embeddings"))
    xi = raw.select("vec_id", F.posexplode("e").alias("i", "x"))
    xj = raw.select("vec_id", F.posexplode("e").alias("j", "y"))
    prods = (
        xi.join(xj, "vec_id")
        .where(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(ex.quantized_avg(ex.quantize(F.col("x") * F.col("y"), 6), 6).alias("exy"))
    )
    means = xi.groupBy("i").agg(ex.quantized_avg("x", 6).alias("m"))
    mi = means.select(F.col("i"), F.col("m").alias("mi"))
    mj = means.select(F.col("i").alias("j"), F.col("m").alias("mj"))
    return (
        prods.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            # + 0.0 collapses IEEE -0.0 to +0.0: the engines round a
            # tiny negative covariance to zero with different signs,
            # and the driver's sort-then-hash treats "-0.0" ≠ "0.0"
            (
                ex.quantize(F.col("exy") - F.col("mi") * F.col("mj"), 6)
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


ORACLE_COVARIANCE = f"""
    WITH raw AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), xi AS (
      SELECT vec_id, unnest(range(len(e))) AS i, unnest(e) AS x FROM raw
    ), prods AS (
      SELECT a.i, b.i AS j,
             {ex.sql_avg(ex.sql_quantize('a.x * b.x', 6), 6)} AS exy
      FROM xi a JOIN xi b USING (vec_id)
      WHERE a.i <= b.i
      GROUP BY a.i, b.i
    ), means AS (
      SELECT i, {ex.sql_avg('x', 6)} AS m FROM xi GROUP BY i
    )
    SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
           ({ex.sql_quantize('p.exy - mi.m * mj.m', 6)}) + 0.0 AS cov
    FROM prods p
    JOIN means mi ON mi.i = p.i
    JOIN means mj ON mj.i = p.j
"""


def _sql_l2(a: str, b: str, n: int = PQ_SUBDIM) -> str:
    diff = f"list_transform(range({n}), i -> ({a})[i+1] - ({b})[i+1])"
    return f"list_dot_product({diff}, {diff})"


def _pq_train_ctes() -> str:
    """Shared CTE chain for the PQ oracles: raw corpus + one
    init/assign/means/re-assign block per subspace (the kmeans oracle
    pattern × PQ_M)."""
    q = ex.sql_quantize
    parts = [
        """
    WITH raw AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""
    ]
    for mi in range(PQ_M):
        lo, hi = mi * PQ_SUBDIM + 1, (mi + 1) * PQ_SUBDIM
        parts.append(f"""
    , sub{mi} AS (
      SELECT vec_id, list_slice(e, {lo}, {hi}) AS s FROM raw
    ), init{mi} AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, s AS c
      FROM sub{mi} ORDER BY vec_id LIMIT {PQ_K}
    ), a{mi} AS (
      SELECT vec_id, code FROM (
        SELECT s.vec_id, i.code,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY {q(_sql_l2('s.s', 'i.c'), 6)} ASC, i.code ASC
               ) AS rn
        FROM sub{mi} s CROSS JOIN init{mi} i
      ) WHERE rn = 1
    ), comp{mi} AS (
      SELECT a.code, u.i, u.x
      FROM a{mi} a JOIN (
        SELECT vec_id, unnest(range(len(s))) AS i, unnest(s) AS x
        FROM sub{mi}
      ) u USING (vec_id)
    ), mm{mi} AS (
      SELECT code, i, {ex.sql_avg('x', 6)} AS m
      FROM comp{mi} GROUP BY code, i
    ), craw{mi} AS (
      SELECT code, list(m ORDER BY i) AS c FROM mm{mi} GROUP BY code
    ), c1_{mi} AS (
      SELECT i.code, COALESCE(r.c, i.c) AS c
      FROM init{mi} i LEFT JOIN craw{mi} r USING (code)
    ), code{mi} AS (
      SELECT vec_id, code FROM (
        SELECT s.vec_id, cc.code,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY {q(_sql_l2('s.s', 'cc.c'), 6)} ASC, cc.code ASC
               ) AS rn
        FROM sub{mi} s CROSS JOIN c1_{mi} cc
      ) WHERE rn = 1
    )""")
    return "".join(parts)


def _pq_adc_ctes() -> str:
    """Shared CTE chain through the ADC distances: training, the
    union'd code/centroid frames, query LUT, and the grouped ``ad``
    frame — the common front half of the plain-ADC and re-rank
    oracles."""
    q = ex.sql_quantize
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {mi} AS m, code FROM code{mi}"
        for mi in range(PQ_M)
    )
    cents_union = " UNION ALL ".join(
        f"SELECT {mi} AS m, code, c FROM c1_{mi}" for mi in range(PQ_M)
    )
    return _pq_train_ctes() + f"""
    , codes AS ({codes_union})
    , cents AS ({cents_union})
    , queries AS (
      SELECT vec_id AS query_id, e FROM raw WHERE vec_id < {N_QUERIES}
    ), lut AS (
      SELECT qq.query_id, ct.m, ct.code,
             {q(_sql_l2(
                 'list_slice(qq.e, ct.m * %d + 1, (ct.m + 1) * %d)'
                 % (PQ_SUBDIM, PQ_SUBDIM),
                 'ct.c',
             ), 6)} AS d2
      FROM queries qq CROSS JOIN cents ct
    ), ad AS (
      SELECT l.query_id, cd.vec_id, {ex.sql_sum('l.d2', 6)} AS adist
      FROM codes cd JOIN lut l USING (m, code)
      WHERE cd.vec_id <> l.query_id
      GROUP BY l.query_id, cd.vec_id
    )"""


def _pq_oracle() -> str:
    """CTE mirror of ann_pq_topk: the shared ADC chain plus the rank."""
    return _pq_adc_ctes() + f"""
    SELECT query_id, vec_id, adist, rank FROM (
      SELECT query_id, vec_id, adist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adist ASC, vec_id ASC
             ) AS rank
      FROM ad
    ) WHERE rank <= {TOP_K}
    """


ORACLE_PQ = _pq_oracle()


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ compression artifact itself: (vec_id, m, code) — the
    4-bytes-per-vector encode table a write-side job persists (and
    ann_pq_topk scans). Registered separately so the stored
    representation, not just the search result, is hash-attested."""
    raw = _raw_corpus(load_table(spark, sf_dir, "embeddings"))
    cents = pq_codebooks(raw)
    return raw.select(
        "vec_id",
        F.posexplode(_pq_codes(cents)(F.col("e"))).alias("m", "code"),
    ).select(
        "vec_id",
        F.col("m").cast("long").alias("m"),
        F.col("code").cast("long").alias("code"),
    )


def _pq_oracle_rerank() -> str:
    """CTE mirror of ann_pq_rerank_topk: the shared ADC chain, the
    shortlist window, then the exact full-vector quantized L2
    re-rank."""
    q = ex.sql_quantize
    full_dim = PQ_M * PQ_SUBDIM
    return _pq_adc_ctes() + f"""
    , short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adist ASC, vec_id ASC
               ) AS arank
        FROM ad
      ) WHERE arank <= {PQ_RERANK_SHORTLIST}
    ), rescored AS (
      SELECT s.query_id, s.vec_id,
             {q(_sql_l2('qq.e', 'r.e', full_dim), 6)} AS dist
      FROM short s
      JOIN raw r ON r.vec_id = s.vec_id
      JOIN queries qq ON qq.query_id = s.query_id
    )
    SELECT query_id, vec_id, dist, rank FROM (
      SELECT query_id, vec_id, dist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
             ) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


ORACLE_PQ_RERANK = _pq_oracle_rerank()


ORACLE_PQ_CODES = _pq_train_ctes() + f"""
    , codes AS ({" UNION ALL ".join(
        f"SELECT vec_id, {mi} AS m, code FROM code{mi}"
        for mi in range(PQ_M)
    )})
    SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
    FROM codes
"""


QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_centroids": ann_ivf_centroids,
    "ann_ivf_assign_batch": ann_ivf_assign_batch,
    "ann_ivf_cells": ann_ivf_cells,
    "ann_lsh_bucket_table": ann_lsh_bucket_table,
    "ann_mmr_topk": ann_mmr_topk,
    "embedding_label_centroids": embedding_label_centroids,
    "embedding_label_outliers": embedding_label_outliers,
    "embedding_int8_quantize": embedding_int8_quantize,
    "embedding_matryoshka_quality": embedding_matryoshka_quality,
    "ann_int8_topk": ann_int8_topk,
    "embedding_kmeans": embedding_kmeans,
    "ann_pq_topk": ann_pq_topk,
    "ann_pq_rerank_topk": ann_pq_rerank_topk,
    "embedding_covariance": embedding_covariance,
    "embedding_hard_negatives": embedding_hard_negatives,
    "embedding_pq_codes": embedding_pq_codes,
}

ORACLE = {
    "knn_bruteforce": ORACLE_KNN,
    "ann_lsh_topk": ORACLE_ANN_LSH,
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "ann_ivf_centroids": _ivf_centroids_oracle(),
    "ann_ivf_assign_batch": _ivf_assign_batch_oracle(),
    "ann_ivf_cells": _ivf_cells_oracle(),
    "ann_lsh_bucket_table": _lsh_bucket_table_oracle(),
    "ann_mmr_topk": ORACLE_MMR,
    "embedding_label_centroids": ORACLE_CENTROIDS,
    "embedding_label_outliers": ORACLE_OUTLIERS,
    "embedding_int8_quantize": ORACLE_INT8_QUANTIZE,
    "embedding_matryoshka_quality": ORACLE_MATRYOSHKA,
    # full exact oracle: the int8 screening is output-invariant
    "ann_int8_topk": ORACLE_KNN,
    "embedding_kmeans": ORACLE_KMEANS,
    "ann_pq_topk": ORACLE_PQ,
    "ann_pq_rerank_topk": ORACLE_PQ_RERANK,
    "embedding_covariance": ORACLE_COVARIANCE,
    "embedding_hard_negatives": ORACLE_HARD_NEGATIVES,
    "embedding_pq_codes": ORACLE_PQ_CODES,
}
