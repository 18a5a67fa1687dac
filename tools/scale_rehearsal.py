#!/usr/bin/env python
"""Reproducible 10x scale rehearsal behind SCALING.md.

Replicates the sf0.1 fixture with shifted keys (documents 10x — text
REPEATED verbatim, deliberately stressing dedup buckets with planted
duplication; events 10x with shifted users and a +7d-per-replica time
offset; embeddings 5x), copies the unscaled TPC-H tables as controls,
and times registered operators cold on the scratch data.

    python tools/scale_rehearsal.py gen   [scratch_dir] [doc_evt_repl]
    python tools/scale_rehearsal.py time  name1,name2,... [scratch_dir] [sf_dir]

``doc_evt_repl`` (default 10) scales documents and events; embeddings
stay at 5× (the embedding ops have their own quadratic-by-contract
story — see SCALING.md). The pseudo-name ``containment_capped:<df>``
times the PRODUCTION form of dedup_containment (containment_pairs
with the hot-shingle cap) which has no registered-query name.

Method (matches SCALING.md): wall-clock, single cold run per operator
on an otherwise idle box — factors are bounds, not benchmarks. The
question per row: does cost grow like the data (or the declared
output), or did a quadratic sneak in?
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.constants import patched  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = "/tmp/scale10x"
DOC_REPL = 10
EVT_REPL = 10
EMB_REPL = 5
COPY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
)


def gen(sf_dir: str, scratch: str, doc_evt_repl: int | None = None) -> None:
    import duckdb

    global DOC_REPL, EVT_REPL
    if doc_evt_repl is not None:
        DOC_REPL = EVT_REPL = doc_evt_repl
    os.makedirs(scratch, exist_ok=True)
    con = duckdb.connect()
    src = lambda t: f"read_parquet('{sf_dir}/{t}.parquet')"  # noqa: E731

    n_docs = con.sql(f"SELECT max(doc_id)+1 FROM {src('documents')}").fetchone()[0]
    con.sql(
        f"""COPY (
          SELECT doc_id + k * {n_docs} AS doc_id, text, lang, source, n_chars
          FROM {src('documents')} CROSS JOIN (SELECT unnest(range({DOC_REPL})) AS k)
        ) TO '{scratch}/documents.parquet' (FORMAT parquet)"""
    )
    n_evt, n_usr = con.sql(
        f"SELECT max(event_id)+1, max(user_id)+1 FROM {src('events')}"
    ).fetchone()
    con.sql(
        f"""COPY (
          SELECT event_id + k * {n_evt} AS event_id,
                 ts + INTERVAL (k * 7) DAY AS ts,
                 user_id + k * {n_usr} AS user_id,
                 event_type, value, props
          FROM {src('events')} CROSS JOIN (SELECT unnest(range({EVT_REPL})) AS k)
        ) TO '{scratch}/events.parquet' (FORMAT parquet)"""
    )
    n_vec = con.sql(f"SELECT max(vec_id)+1 FROM {src('embeddings')}").fetchone()[0]
    con.sql(
        f"""COPY (
          SELECT vec_id + k * {n_vec} AS vec_id, embedding, label
          FROM {src('embeddings')} CROSS JOIN (SELECT unnest(range({EMB_REPL})) AS k)
        ) TO '{scratch}/embeddings.parquet' (FORMAT parquet)"""
    )
    for t in COPY_TABLES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{scratch}/{t}.parquet")
    for t in ("documents", "events", "embeddings"):
        n = con.sql(f"SELECT count(*) FROM read_parquet('{scratch}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")


#: separated embedding rehearsal (round-5 brief): ≥100k vectors where
#: planted near-dup pairs sit at cosine ≈ 0.97 and the bulk is random
#: 64-dim directions (pair cosines ~ N(0, 1/64), so the production
#: threshold 0.9 is 7σ out) — the regime the LSH/IVF/PQ paths exist
#: for, as opposed to the sf fixture's threshold-hugging 0.4 regime
#: where the density probe correctly picks exact.
EMB_SEP_N = 100_000
EMB_SEP_DIM = 64
EMB_SEP_PAIRS = 1_000  # planted near-dup pairs (2% of vectors)
EMB_SEP_EPS = 0.03  # perturbation: cos ≈ 1/sqrt(1+eps²·dim) ≈ 0.972
EMB_SEP_SEED = 1905
#: production search shape on the separated corpus: threshold 0.9
#: needs deep-narrow banding (see dedup.EMBED_LSH docs). b/L default
#: re-chosen by the round-6 sweep (`dedup_lsh:<bits>:<bands>` rows in
#: SCALING.md): b=10/L=12 dominates the round-5 b=8/L=8 shape — full
#: planted recall (1000/1000 vs 998) at 2.6× less wall (89.6 s vs
#: 231.9 s at 100k) — exactly the banding theorem's prediction at
#: p ≈ 0.925. Rows measured before round 6 used 8/8 (noted inline).
EMB_PROD_THRESHOLD = 0.9
EMB_PROD_BITS = 10
EMB_PROD_BANDS = 12
#: query batch for the ANN timing rows: with the registered 5-query
#: load the one-time index passes (bucketing / cell assignment / PQ
#: encode) dominate and exact scan ties ANN; 200 queries is a
#: realistic serving batch where the scan-cost asymmetry is visible
#: (exact = 200·n dots; ANN = index pass + 200·candidates)
EMB_SEP_QUERIES = 200


def separated_embeddings(
    n: int = EMB_SEP_N,
    dim: int = EMB_SEP_DIM,
    n_pairs: int = EMB_SEP_PAIRS,
    eps: float = EMB_SEP_EPS,
    seed: int = EMB_SEP_SEED,
):
    """(ids, vectors float32 (n, dim) unit-norm, planted pair list) —
    shared by the gen-emb mode and the pytest that pins the density
    probe's LSH decision on this corpus (tests/test_dedup.py)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    v = rng.randn(n, dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pairs = []
    for p in range(n_pairs):
        # pair members intentionally fall INSIDE the 200-query batch
        # (stride n//n_pairs puts ids 10/11, 110/111, ... among the
        # EMB_SEP_QUERIES=200 query ids) — that's what planted-partner
        # recall measures; only vec_id < 10 is guaranteed clean noise
        a = 10 + p * (n // n_pairs)
        b = a + 1
        v[b] = v[a] + eps * rng.randn(dim)
        v[b] /= np.linalg.norm(v[b])
        pairs.append((a, b))
    return np.arange(n, dtype=np.int64), v.astype(np.float32), pairs


def gen_emb(scratch: str, n: int = EMB_SEP_N) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, v, pairs = separated_embeddings(n=n)
    os.makedirs(scratch, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(
                [row for row in v.tolist()], type=pa.list_(pa.float32())
            ),
            "label": pa.array(
                np.zeros(len(ids), dtype=np.int32), type=pa.int32()
            ),
        }
    )
    # bounded row groups: a single-row-group file is UNSPLITTABLE —
    # Spark byte-range splits cannot cross a row-group boundary, so a
    # 1M-row single-group file serializes every scan-fused stage
    # (the Arrow-UDF kNN ran as ONE task until this; round-9 finding,
    # SCALING.md). 32k rows/group ≈ 30+ splits at 1M.
    pq.write_table(
        table, f"{scratch}/embeddings.parquet", row_group_size=32_768
    )
    print(f"embeddings: {len(ids)} rows, {len(pairs)} planted pairs -> {scratch}")


#: planted text-near-dup rehearsal (round-7 brief): 100k docs of 60
#: fixed-width random-vocab tokens, 1200 planted near-dup pairs in 8
#: tiers of t = 1..8 token substitutions — word-3-gram Jaccard per
#: tier ≈ (58-3t)/(58+3t) when substitutions land ≥3 apart (t=1 →
#: 0.90 … t=6 → 0.53, with t=7/8 straddling/below the 0.5 threshold),
#: so the truth set (exact banded Jaccard ≥ 0.5, the registered
#: dedup_ngram_jaccard semantics) spans the whole recall-relevant
#: band. Bulk pairs share ~no shingles (3-token shingles over a 50k
#: vocab are effectively unique), so minhash output rows / exact rows
#: IS the banding-shape recall — same reading as the r6 embedding
#: sweep. All tokens are 7 chars, so every doc lands in one length
#: band and the ±1-band blocking never hides a planted pair.
TXT_SEP_N = 100_000
TXT_SEP_TOKENS = 60
TXT_SEP_VOCAB = 50_000
TXT_SEP_PAIRS = 1_200
TXT_SEP_SEED = 711


def planted_text_corpus(n: int = TXT_SEP_N):
    """(texts, n_chars, n_pairs) — shared by the gen-txt writer and
    the pytest band-shape subset/monotonicity pins
    (tests/test_dedup.py)."""
    import numpy as np

    rng = np.random.RandomState(TXT_SEP_SEED)
    toks = rng.randint(0, TXT_SEP_VOCAB, size=(n, TXT_SEP_TOKENS))
    # stride >= 8 keeps planted pairs disjoint (a partner is never
    # itself a later pair's base) however small n gets
    n_pairs = min(TXT_SEP_PAIRS, (n - 20) // 8)
    stride = (n - 20) // n_pairs
    for p in range(n_pairs):
        a = 10 + p * stride
        t = 1 + (p % 8)
        toks[a + 1] = toks[a]
        pos = rng.choice(TXT_SEP_TOKENS, size=t, replace=False)
        toks[a + 1, pos] = rng.randint(0, TXT_SEP_VOCAB, size=t)
    # vectorized token formatting (np.char.mod emits the identical
    # "w%06d" strings f-string formatting did; the per-row join over
    # pre-made strings makes 1M-doc generation minutes, not tens)
    words = np.char.mod("w%06d", toks)
    texts = [" ".join(row) for row in words.tolist()]
    return texts, len(texts[0]), n_pairs


def gen_txt(scratch: str, n: int = TXT_SEP_N) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts, n_chars, n_pairs = planted_text_corpus(n)
    os.makedirs(scratch, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["txtsep"] * n),
            "n_chars": pa.array([n_chars] * n, type=pa.int32()),
        }
    )
    # bounded row groups — same splittability rationale as gen_emb
    pq.write_table(
        table, f"{scratch}/documents.parquet", row_group_size=32_768
    )
    print(f"documents: {n} rows, {n_pairs} planted pairs -> {scratch}")


def _emb_prod(D, bits: int | None = None, bands: int | None = None):
    """The production embedding search shape (threshold 0.9 and the
    EMB_PROD banding, or a swept ``bits``/``bands``) set on the dedup
    module's constants for the length of a block."""
    return patched(
        D,
        EMBED_DUP_THRESHOLD=EMB_PROD_THRESHOLD,
        EMBED_LSH_BAND_BITS=bits or EMB_PROD_BITS,
        EMBED_LSH_BANDS=bands or EMB_PROD_BANDS,
    )


def _resolve(name):
    from mpi_mapreduce_spark.plans.registry import QUERIES

    if name.startswith("containment_capped"):
        cap = int(name.split(":")[1]) if ":" in name else 1000
        from mpi_mapreduce_spark.datamodel import load_table
        from mpi_mapreduce_spark.operators.dedup import containment_pairs

        return lambda spark, d: containment_pairs(
            load_table(spark, d, "documents"), max_shingle_df=cap
        )
    if name.startswith("txtsep_"):
        # planted text-near-dup ops on the gen-txt corpus (the r7
        # MinHash band-shape/signature-length sweep): txtsep_exact is
        # the truth row (registered dedup_ngram_jaccard semantics);
        # txtsep_minhash:<hashes>:<bands> runs the production LSH path
        # with MINHASH_HASHES/MINHASH_BANDS set to that shape. Run ONE
        # name per invocation — the default path persists the shingle index and the CacheManager
        # dedupes identical plans, so a multi-name run would hand
        # later shapes a warm index and understate their walls.
        from mpi_mapreduce_spark.datamodel import load_table
        from mpi_mapreduce_spark.operators import dedup as D

        op = name.removeprefix("txtsep_")
        if op == "exact":
            return lambda spark, d: D.ngram_jaccard_pairs(
                load_table(spark, d, "documents")
            )
        if op.startswith("minhash"):
            parts = op.split(":")
            h = int(parts[1]) if len(parts) > 1 else D.MINHASH_HASHES
            b = int(parts[2]) if len(parts) > 2 else D.MINHASH_BANDS

            def run_minhash(spark, d):
                with patched(D, MINHASH_HASHES=h, MINHASH_BANDS=b):
                    return D.minhash_jaccard_pairs(
                        load_table(spark, d, "documents")
                    )

            return run_minhash
        raise SystemExit(f"unknown txtsep op {op}")
    if name == "minhash_after_exact":
        # the composed production ordering — since round 5 this IS the
        # registered query (pipeline_canonical_minhash); the pseudo-name
        # stays so older SCALING.md rows remain reproducible verbatim
        return QUERIES["pipeline_canonical_minhash"]
    if name.startswith("embsep_"):
        # production-regime embedding ops on the separated corpus
        # (threshold 0.9, b=8/L=8 banding — NOT the registered 0.4
        # fixture regime; see the EMB_SEP constants)
        from pyspark.sql import functions as F

        from mpi_mapreduce_spark.datamodel import load_table
        from mpi_mapreduce_spark.functions import vectors as VEC
        from mpi_mapreduce_spark.operators import dedup as D
        from mpi_mapreduce_spark.operators import similarity as S

        def _norm(spark, d):
            return load_table(spark, d, "embeddings").select(
                "vec_id",
                VEC.normalize_arrow(
                    VEC.as_double(F.col("embedding"))
                ).alias("v"),
            )

        def _qs(corpus):
            return corpus.where(F.col("vec_id") < EMB_SEP_QUERIES).select(
                F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
            )

        def _raw(spark, d):
            return load_table(spark, d, "embeddings").select(
                "vec_id", VEC.as_double(F.col("embedding")).alias("e")
            )


        op = name.removeprefix("embsep_")
        if op == "knn_exact":
            return lambda spark, d: S.knn_topk(_norm(spark, d), _qs(_norm(spark, d)))
        if op == "mmr":
            # diversified re-rank at 100k: exact top-30 shortlist scan
            # + per-query bounded greedy — wall should track knn_exact
            # (the shortlist pass dominates; the greedy is O(N²·d) per
            # query, corpus-size-free)
            return lambda spark, d: S.mmr_rerank(
                _norm(spark, d), _qs(_norm(spark, d))
            )
        if op == "ann_lsh":
            return lambda spark, d: S.ann_lsh(
                _norm(spark, d), _qs(_norm(spark, d)), EMB_SEP_DIM
            )
        if op == "ann_ivf":

            def run_ivf(spark, d):
                corpus = _norm(spark, d)
                return S.ann_ivf(corpus, _qs(corpus), S.ivf_centroids(corpus))

            return run_ivf
        if op in ("ann_pq", "ann_pq_rerank"):
            pq = S.pq_adc_topk if op == "ann_pq" else S.pq_rerank_topk

            def run_pq(spark, d):
                with patched(S, N_QUERIES=EMB_SEP_QUERIES):
                    return pq(_raw(spark, d))

            return run_pq
        if op == "dedup_exact":

            def run_exact(spark, d):
                with _emb_prod(D):
                    return D.embedding_neardup_exact(_norm(spark, d))

            return run_exact
        if op.startswith("dedup_lsh"):
            # optional banding override: dedup_lsh:<bits>:<bands> —
            # the round-6 b/L sweep (default = the production
            # EMB_PROD_BITS/EMB_PROD_BANDS shape, b=10/L=12 since the
            # round-6 sweep; recall follows the banding theorem
            # 1-(1-p^b)^L, row count / planted pairs ≈ recall on this
            # corpus since bulk pairs can't reach threshold 0.9)
            parts = op.split(":")
            bits = int(parts[1]) if len(parts) > 1 else EMB_PROD_BITS
            bands = int(parts[2]) if len(parts) > 2 else EMB_PROD_BANDS

            def run_lsh(spark, d):
                with _emb_prod(D, bits, bands):
                    return D.embedding_neardup_lsh(_norm(spark, d), EMB_SEP_DIM)

            return run_lsh
        if op.startswith("dedup_incremental"):
            # dedup_incremental:<mod> — the r7 incremental embedding
            # path at production banding/threshold: every mod-th
            # vector is tonight's batch, the rest the corpus index
            # side. Varying mod at ~FIXED corpus size isolates the
            # batch-proportionality claim (the corpus banding pass is
            # rebuilt from the fixture here; production reads the
            # stored index, so the batch-side share is the nightly
            # marginal cost). Measures the HITS stage — the decision
            # wrapper's per-batch-vector left join is eliminable under
            # time_ops' count and would time nothing.
            parts = op.split(":")
            mod = int(parts[1]) if len(parts) > 1 else 10
            def run_incr(spark, d, mod=mod):
                emb = _norm(spark, d)
                with _emb_prod(D):
                    return D.embedding_incremental_hits(
                        emb.where(F.col("vec_id") % mod == 0),
                        emb.where(F.col("vec_id") % mod != 0),
                        EMB_SEP_DIM,
                    )
            return run_incr
        if op == "dedup_auto":

            def run_auto(spark, d):
                with _emb_prod(D):
                    pairs, path = D.embedding_neardup_auto(
                        _norm(spark, d), EMB_SEP_DIM
                    )
                print(f"  # auto picked: {path}", flush=True)
                return pairs

            return run_auto
        raise SystemExit(f"unknown embsep op {op}")
    return QUERIES[name]


def time_ops(names: list[str], scratch: str, sf_dir: str) -> None:
    from mpi_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    print("| operator | sf0.1 | scaled data | factor |")
    for name in names:
        fn = _resolve(name)
        # warm at base scale first (JVM/codegen/parquet footers), so
        # the base and scaled timings are both steady-state and the
        # factor isn't polluted by one-time session costs
        fn(spark, sf_dir).count()
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        base = time.perf_counter() - t0
        t0 = time.perf_counter()
        n = fn(spark, scratch).count()
        big = time.perf_counter() - t0
        print(
            f"| {name} | {base:.1f} s | {big:.1f} s "
            f"| {big / max(base, 1e-9):.1f}x |  # {n} rows",
            flush=True,
        )
    spark.stop()


def time_incr_stored(scratch: str, mods: list[int]) -> None:
    """Stored-index serving shape (round-8 brief item 6): persist the
    corpus-side bucket index once per split (the nightly
    embedding_bucket_index artifact — in production it already exists,
    maintained by nightly_curation_update's embedding leg), then time
    ONLY the serving query: batch banding + (band, bucket) join
    against the STORED index + touched-vector exact rescore. The
    difference vs the `embsep_dedup_incremental:<mod>` rows (which
    re-band the corpus in the timed region) is the index-build term
    the nightly deployment never pays."""
    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.functions import vectors as VEC
    from mpi_mapreduce_spark.operators import dedup as D
    from mpi_mapreduce_spark.session import get_spark

    import tempfile

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    emb = load_table(spark, scratch, "embeddings").select(
        "vec_id",
        VEC.normalize_arrow(VEC.as_double(F.col("embedding"))).alias("v"),
    )
    emb.count()  # session warm-up (JVM/codegen), outside every timing
    print("| mod | index build+write (one-time) | serving wall | hits |")
    for mod in mods:
        corpus = emb.where(F.col("vec_id") % mod != 0)
        batch = emb.where(F.col("vec_id") % mod == 0)
        idx_dir = tempfile.mkdtemp(prefix=f"embidx_m{mod}_")
        with _emb_prod(D):
            t0 = time.perf_counter()
            D.embedding_band_rows(corpus, EMB_SEP_DIM).write.mode(
                "overwrite"
            ).parquet(idx_dir)
            build = time.perf_counter() - t0
            stored = spark.read.parquet(idx_dir)
            t0 = time.perf_counter()
            n = D.embedding_incremental_hits(
                batch, corpus, EMB_SEP_DIM, corpus_bands=stored
            ).count()
            serve = time.perf_counter() - t0
        print(
            f"| {mod} | {build:.1f} s | {serve:.1f} s |  # {n} hits",
            flush=True,
        )
    spark.stop()


def time_substring_stored(scratch: str, mods: list[int]) -> None:
    """Stored gram-index serving shape (round-9 brief item 2): persist
    the corpus side's distinct-gram vocabulary once per split (the
    substring_gram_index artifact — in production it already exists,
    maintained by nightly_curation_update's substring leg), then time
    ONLY the serving query: batch positional grams + ONE semi-join probe +
    per-doc island merge. The difference vs the inline path (which
    re-grams the corpus in the timed region) is the index-build term
    the nightly deployment never pays — isolating the true
    batch-proportional marginal cost the round-8 row could not."""
    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators import dedup as D
    from mpi_mapreduce_spark.session import get_spark
    from mpi_mapreduce_spark.sources.io import record_ingested

    import tempfile

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    src = f"{scratch}/documents.parquet"
    docs = spark.read.parquet(src)
    docs.count()  # session warm-up, outside every timing
    print(
        "| mod | index build+write (one-time) | compact-to-bucketed "
        "(one-time) | coloc serving wall | serving wall | inline wall "
        "| spans |"
    )
    for mod in mods:
        corpus = docs.where(F.col("doc_id") % mod != 0)
        batch = docs.where(F.col("doc_id") % mod == 0)
        idx_dir = tempfile.mkdtemp(prefix=f"gramidx_m{mod}_")
        t0 = time.perf_counter()
        D.substring_gram_index_rows(corpus).write.mode("overwrite").parquet(
            os.path.join(idx_dir, "batch=b0")
        )
        build = time.perf_counter() - t0
        # co-located layout (round-10): pay the vocabulary shuffle
        # once in the weekly compactor, then the nightly probe's semi
        # join moves only the batch's grams; the compactor folds only
        # ledger-committed partitions, so commit the one partition
        ledger = idx_dir + "_ledger"
        record_ingested(spark, ledger, [src], batch_key="b0")
        bdir = tempfile.mkdtemp(prefix=f"gramidx_bkt_m{mod}_")
        t0 = time.perf_counter()
        D.weekly_index_compaction(spark, idx_dir, "grams", ledger, bdir)
        compact = time.perf_counter() - t0
        t0 = time.perf_counter()
        nc = D._gram_cross_spans(spark, batch, idx_dir).count()
        coloc = time.perf_counter() - t0
        stored = spark.read.parquet(idx_dir)
        t0 = time.perf_counter()
        n = D.incremental_span_rows(batch, corpus_grams=stored).count()
        serve = time.perf_counter() - t0
        t0 = time.perf_counter()
        n2 = D.incremental_span_rows(batch, corpus).count()
        inline = time.perf_counter() - t0
        assert n == n2 == nc, (n, n2, nc)
        tbl = D._serving_table(idx_dir, "grams")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_folded")
        print(
            f"| {mod} | {build:.1f} s | {compact:.1f} s | {coloc:.1f} s "
            f"| {serve:.1f} s | {inline:.1f} s |  # {n} spans",
            flush=True,
        )
    spark.stop()


def time_ivf_assign(scratch: str, mods: list[int]) -> None:
    """IVF incremental-ingest serving shape (round 8): per split, time
    the ONE-TIME quantizer training (bounded md5-ordered sample +
    driver-side quantized Lloyd — nightly_curation_update's ivf leg
    pays this on the FIRST night only) separately from the nightly
    marginal cost: one Arrow argmax pass assigning the batch to its
    nearest stored centroid (the ann_ivf_assign_batch / inverted-file
    append path)."""
    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.functions import vectors as VEC
    from mpi_mapreduce_spark.operators import similarity as S
    from mpi_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    emb = load_table(spark, scratch, "embeddings").select(
        "vec_id",
        VEC.normalize_arrow(VEC.as_double(F.col("embedding"))).alias("v"),
    )
    emb.count()  # session warm-up, outside every timing
    print("| mod | quantizer train (one-time) | batch assign wall | batch rows |")
    for mod in mods:
        stable = emb.where(F.col("vec_id") % mod != 0)
        batch = emb.where(F.col("vec_id") % mod == 0)
        t0 = time.perf_counter()
        cents = S.ivf_centroids(stable)
        train = time.perf_counter() - t0
        t0 = time.perf_counter()
        n = (
            batch.select(
                "vec_id", S._assign_struct(F.col("v"), cents).alias("a")
            )
            .select("vec_id", F.col("a.cluster").alias("cell"))
            .count()
        )
        assign = time.perf_counter() - t0
        print(
            f"| {mod} | {train:.1f} s | {assign:.1f} s |  # {n} rows",
            flush=True,
        )
    spark.stop()


def time_bloom(scratch: str, m_bits_list: list[int]) -> None:
    """Bloom bits-per-key sweep at the 100k planted text corpus
    (round 8): per filter size m, time the one-pass build over the
    90% corpus split and the screen of the 10% batch, and compare the
    measured false-positive rate on the truly-novel batch docs to the
    closed-form (1 - e^{-kn/m})^k. No-false-negative is asserted, not
    measured — a violation raises."""
    import math

    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators import dedup as D
    from mpi_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    docs = spark.read.parquet(f"{scratch}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 10 != 0).localCheckpoint()
    # batch = the 10% split (novel modulo the planted near-pairs, which
    # are token EDITS, not exact copies) + 5000 exact copies of corpus
    # texts re-keyed high — the planted members that make the no-FN
    # assertion non-vacuous
    members = corpus.orderBy("doc_id").limit(5000).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    batch = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
        .unionByName(members)
        .localCheckpoint()
    )
    n_keys = corpus.select("text").distinct().count()
    truth = {
        r.doc_id
        for r in batch.join(
            corpus.select("text").distinct(), "text", "left_semi"
        )
        .select("doc_id")
        .collect()
    }
    n_batch = batch.count()
    print(f"corpus keys {n_keys}, batch {n_batch}, true members {len(truth)}")
    print("| m bits | bits/key | build | screen | FP measured | FP predicted |")
    for m in m_bits_list:
        t0 = time.perf_counter()
        filt = D.bloom_build(corpus, m_bits=m).localCheckpoint()
        build = time.perf_counter() - t0
        t0 = time.perf_counter()
        with patched(D, BLOOM_BITS=m):
            rows = D.bloom_screen(batch, filt).collect()
        screen = time.perf_counter() - t0
        seen = {r.doc_id for r in rows if r.bloom_seen}
        fn = truth - seen
        if fn:
            raise AssertionError(f"false negatives at m={m}: {sorted(fn)[:5]}")
        novel = n_batch - len(truth)
        fp = len(seen - truth) / max(novel, 1)
        pred = (1.0 - math.exp(-D.BLOOM_HASHES * n_keys / m)) ** D.BLOOM_HASHES
        print(
            f"| 2^{int(math.log2(m))} | {m / n_keys:.1f} | {build:.1f} s "
            f"| {screen:.1f} s | {fp:.4f} | {pred:.4f} |",
            flush=True,
        )
    spark.stop()


def time_novelty(scratch: str, m_bits_list: list[int]) -> None:
    """Exact vs Bloom-approximated novelty on the planted text corpus
    (round-8 measured this at 100k with throwaway driver code; this
    mode makes it reproducible and runs it at any scale): per filter
    size m, time the exact novelty_scores pass (corpus shingle set
    joined directly) and the novelty_scores_bloom pass (fixed-size
    word table), then compare the mean per-doc novelty underestimate
    to the (1−e^{−kn/m})^k FP prediction. One-sidedness (the Bloom
    estimate never EXCEEDS exact novelty) is asserted per doc."""
    import math

    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators import dedup as D
    from mpi_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    docs = spark.read.parquet(f"{scratch}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 10 != 0).localCheckpoint()
    batch = docs.where(F.col("doc_id") % 10 == 0).localCheckpoint()
    n_shingles = (
        corpus.transform(D.shingle_rows).select("s").distinct().count()
    )
    t0 = time.perf_counter()
    exact = {
        r.doc_id: r.novelty
        for r in D.novelty_scores(batch, corpus).collect()
    }
    exact_wall = time.perf_counter() - t0
    print(
        f"corpus shingles {n_shingles}, batch docs {len(exact)}, "
        f"exact wall {exact_wall:.1f} s"
    )
    print("| m bits | bits/shingle | bloom wall | mean underest | "
          "FP predicted | max gap |")
    for m in m_bits_list:
        t0 = time.perf_counter()
        with patched(D, NOVELTY_BLOOM_BITS=m):
            est = {
                r.doc_id: r.novelty_est
                for r in D.novelty_scores_bloom(batch, corpus).collect()
            }
        wall = time.perf_counter() - t0
        gaps = []
        for did, nov in exact.items():
            gap = nov - est[did]
            if gap < -1e-9:
                raise AssertionError(
                    f"novelty inflated at m={m}, doc {did}: "
                    f"exact {nov} < est {est[did]}"
                )
            gaps.append(gap)
        pred = (
            1.0 - math.exp(-D.BLOOM_HASHES * n_shingles / m)
        ) ** D.BLOOM_HASHES
        print(
            f"| 2^{int(math.log2(m))} | {m / n_shingles:.1f} | {wall:.1f} s "
            f"| {sum(gaps) / len(gaps):.5f} | {pred:.5f} "
            f"| {max(gaps):.4f} |",
            flush=True,
        )
    spark.stop()


def time_nightly(
    txt_scratch: str, emb_scratch: str, compact: bool = False
) -> None:
    """End-to-end cost of the WHOLE nightly curation composite
    (operators/nightly.py — all eight legs, one ledger commit) at the
    100k scale: night 1 seeds every index from the 90% split of both
    modalities, night 2 ingests the 10% batch against the stored
    state. The night-2 wall is the number that matters — the marginal
    cost of one real night once the indexes exist — and the night-1 /
    night-2 ratio is the composite's seed-vs-serve shape.

    The VECTOR modality is bounded to 5k vectors (4.5k seed / 500
    batch): the embedding-dedup leg's intra-batch band self-join runs
    at the registered EMBED_LSH_BAND_BITS=2 geometry (4 buckets/band,
    tuned for the 0.4-threshold fixture), so a RANDOM-vector seed
    night at 90k piles ~22.5k vectors per bucket per band — ~12e9
    candidate pairs, a measured non-starter (round 9: the first
    attempt sat in that join 18+ min; an 18k seed still ~0.5e9). The
    production rule this pins: SEED an index family by its offline
    composed build (exact-collapse-first, capped banding — the
    SCALING.md round-5 pipelines), and reserve the nightly path for
    nightly-sized batches; banding geometry is a DENSITY knob, chosen
    per corpus like every other knob here."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators.nightly import (
        curation_state_audit,
        nightly_curation_update,
    )
    from mpi_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    docs = spark.read.parquet(f"{txt_scratch}/documents.parquet")
    vecs = spark.read.parquet(f"{emb_scratch}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    root = tempfile.mkdtemp(prefix="nightly100k_")
    batch_dir = os.path.join(root, "batch")
    state_dir = os.path.join(root, "state")
    try:
        _time_nightly_run(spark, docs, vecs, root, batch_dir, state_dir,
                          compact)
    finally:
        spark.stop()
        # the scratch root is ~4 GB/M-docs of staged batches + index
        # state; leaked roots from repeated runs filled the disk in
        # round 13 TWICE — once from success-path leaks across rounds,
        # once from a failure-path leak (a 42 GB root from an ENOSPC'd
        # run starved the next one). Cleanup must be unconditional.
        if not os.environ.get("NIGHTLY_KEEP_STATE"):
            shutil.rmtree(root, ignore_errors=True)


def _time_nightly_run(
    spark, docs, vecs, root: str, batch_dir: str, state_dir: str,
    compact: bool,
) -> None:
    import os
    import shutil

    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.operators.nightly import (
        curation_state_audit,
        nightly_curation_update,
    )

    def stage(night: str, ddf, vdf):
        for sub, df in (("docs", ddf), ("vecs", vdf)):
            stg = os.path.join(root, f"stage_{night}_{sub}")
            df.coalesce(4).write.mode("overwrite").parquet(stg)
            dst = os.path.join(batch_dir, sub)
            os.makedirs(dst, exist_ok=True)
            for i, f in enumerate(sorted(os.listdir(stg))):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    shutil.move(
                        os.path.join(stg, f),
                        os.path.join(dst, f"{night}-{i}.parquet"),
                    )

    vecs = vecs.where(F.col("vec_id") < 5_000)
    stage(
        "n1",
        docs.where(F.col("doc_id") % 10 != 0).select("doc_id", "text"),
        vecs.where(F.col("vec_id") % 10 != 0),
    )
    t1: dict[str, float] = {}
    t0 = time.perf_counter()
    r1, f1 = nightly_curation_update(spark, batch_dir, state_dir, timings=t1)
    seed = time.perf_counter() - t0
    n1 = {leg: df.count() for leg, df in r1.items()}
    print(f"night 1 (seed, {len(f1)} files): {seed:.1f} s  {n1}")
    print("  per-leg: " + ", ".join(f"{k} {v:.1f}s" for k, v in t1.items()))

    if compact:
        # the round-11 wiring: a weekly compaction between the nights
        # folds the seed partitions into the bucketed serving bases,
        # so night 2's text/embedding legs probe two-tier
        from mpi_mapreduce_spark.operators.nightly import (
            weekly_curation_compaction,
        )

        tc: dict[str, float] = {}
        t0 = time.perf_counter()
        folded = weekly_curation_compaction(spark, state_dir, timings=tc)
        print(
            f"weekly compaction: {time.perf_counter() - t0:.1f} s  {folded}"
        )
        print(
            "  per-leg: " + ", ".join(f"{k} {v:.1f}s" for k, v in tc.items())
        )

    stage(
        "n2",
        docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text"),
        vecs.where(F.col("vec_id") % 10 == 0),
    )
    t2: dict[str, float] = {}
    t0 = time.perf_counter()
    r2, f2 = nightly_curation_update(spark, batch_dir, state_dir, timings=t2)
    marginal = time.perf_counter() - t0
    n2 = {leg: df.count() for leg, df in r2.items()}
    print(f"night 2 (marginal, {len(f2)} files): {marginal:.1f} s  {n2}")
    print("  per-leg: " + ", ".join(f"{k} {v:.1f}s" for k, v in t2.items()))

    t0 = time.perf_counter()
    audit = curation_state_audit(spark, state_dir).collect()
    audit_wall = time.perf_counter() - t0
    viol = {
        (r.leg, r.counter): r.value
        for r in audit
        if any(
            k in r.counter
            for k in (
                "orphan", "incomplete", "stale", "out_of_range",
                "duplicate", "dup_within", "null", "wrong",
                "sign_violation", "nonpositive", "multi",
            )
        )
    }
    bad = {k: v for k, v in viol.items() if v != 0}
    print(f"state audit: {audit_wall:.1f} s, violations {bad or 'NONE'}")


def time_cms(scratch: str, widths: list[int]) -> None:
    """CMS width sweep at the 100k planted text corpus (round 8): per
    width w, time the sketch build over the ~6M-token stream and
    compare the mean and p99 overestimate across the full vocabulary
    to the N/w expectation (every term's estimate is exact+noise where
    the noise is the colliding mass — mean collision mass per cell is
    (N - f_t)/w, so mean overestimate ≈ N/w for a flat-ish Zipf
    tail). Never-undercount is asserted, not measured."""
    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.functions.text import tokens
    from mpi_mapreduce_spark.operators import sketches as SK
    from mpi_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="mpi_mapreduce_spark-scale")
    toks = (
        spark.read.parquet(f"{scratch}/documents.parquet")
        .select(F.explode(tokens(F.col("text"))).alias("term"))
        .localCheckpoint()
    )
    n_tokens = toks.count()
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_cnt"))
    print(f"tokens {n_tokens}, vocab {exact.count()}")
    print("| w | build | mean over | p99 over | N/w |")
    for w in widths:
        with patched(SK, CMS_WIDTH=w):
            t0 = time.perf_counter()
            sk = SK.cms_build(toks).localCheckpoint()
            build = time.perf_counter() - t0
            probes = exact.select(
                "term",
                "exact_cnt",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                SK._cms_bucket(F.col("term"), j).alias("c"),
                            )
                            for j in range(SK.CMS_DEPTH)
                        ]
                    )
                ).alias("p"),
            ).select("term", "exact_cnt", "p.j", "p.c")
        est = (
            probes.join(sk, ["j", "c"])
            .groupBy("term", "exact_cnt")
            .agg(F.min("cnt").alias("est_cnt"))
            .select((F.col("est_cnt") - F.col("exact_cnt")).alias("over"))
        )
        stats = est.agg(
            F.min("over").alias("mn"),
            F.avg("over").alias("mean"),
            F.expr("percentile(over, 0.99)").alias("p99"),
        ).first()
        if stats.mn < 0:
            raise AssertionError(f"undercount at w={w}")
        print(
            f"| {w} | {build:.1f} s | {stats.mean:.1f} | {stats.p99:.0f} "
            f"| {n_tokens / w:.1f} |",
            flush=True,
        )
    spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "gen"
    if mode == "gen":
        scratch = sys.argv[2] if len(sys.argv) > 2 else SCRATCH
        repl = int(sys.argv[3]) if len(sys.argv) > 3 else None
        gen(SF_DIR, scratch, repl)
    elif mode == "gen-emb":
        scratch = sys.argv[2] if len(sys.argv) > 2 else "/tmp/embsep100k"
        n = int(sys.argv[3]) if len(sys.argv) > 3 else EMB_SEP_N
        gen_emb(scratch, n)
    elif mode == "gen-txt":
        scratch = sys.argv[2] if len(sys.argv) > 2 else "/tmp/txtsep100k"
        n = int(sys.argv[3]) if len(sys.argv) > 3 else TXT_SEP_N
        gen_txt(scratch, n)
    elif mode == "time":
        names = sys.argv[2].split(",")
        scratch = sys.argv[3] if len(sys.argv) > 3 else SCRATCH
        sf_dir = sys.argv[4] if len(sys.argv) > 4 else SF_DIR
        time_ops(names, scratch, sf_dir)
    elif mode == "time-incr-stored":
        mods = [int(m) for m in sys.argv[2].split(",")]
        scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/embsep100k"
        time_incr_stored(scratch, mods)
    elif mode == "time-substring-stored":
        mods = [int(m) for m in sys.argv[2].split(",")]
        scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/txtsep100k"
        time_substring_stored(scratch, mods)
    elif mode == "time-ivf-assign":
        mods = [int(m) for m in sys.argv[2].split(",")]
        scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/embsep100k"
        time_ivf_assign(scratch, mods)
    elif mode == "time-bloom":
        ms = [int(m) for m in sys.argv[2].split(",")]
        scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/txtsep100k"
        time_bloom(scratch, ms)
    elif mode == "time-nightly":
        txt = sys.argv[2] if len(sys.argv) > 2 else "/tmp/txtsep100k"
        embd = sys.argv[3] if len(sys.argv) > 3 else "/tmp/embsep100k"
        time_nightly(txt, embd, compact=len(sys.argv) > 4
                     and sys.argv[4] == "compact")
    elif mode == "time-novelty":
        ms = [int(m) for m in sys.argv[2].split(",")]
        scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/txtsep100k"
        time_novelty(scratch, ms)
    elif mode == "time-cms":
        ws = [int(w) for w in sys.argv[2].split(",")]
        scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/txtsep100k"
        time_cms(scratch, ws)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
