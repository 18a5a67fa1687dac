#!/usr/bin/env python
"""Planted-partner recall / wall sweep for the ANN paths — the
committed, reproducible form of SCALING.md's round-5 recall table
(which was measured ad-hoc) plus the round-6 knob sweeps (PQ re-rank
shortlist width, LSH multiprobe width, IVF nprobe), each set on the
similarity module's constants through tools/constants.py.

    python tools/ann_recall.py gen  [dir]            # permuted corpus
    python tools/ann_recall.py run  m1,m2,... [dir]  # measure methods

Methods: ``lsh:<probe_bits>``, ``ivf:<nprobe>``, ``pq``,
``pq_rerank:<shortlist>``, ``exact`` (slow — 1000×100k dots).

Setup: the separated corpus of tools/scale_rehearsal.py (100k unit
64-dim vectors, 1000 planted pairs at cosine ≈ 0.97, bulk ~ N(0,
1/64)), with vec_ids PERMUTED so the 1000 planted pair FIRST members
get ids 0..999. That makes every search core's own query-selection
shape (``vec_id < n_queries``) select exactly the planted queries —
the registered operators run UNMODIFIED, no measurement-only code
paths (permuting ids does not move any vector). Partners map to ids
≥ 1000; recall = fraction of queries whose partner appears in the
top-k, and we report the partner's rank when found (re-rank variants
should pin it at 1 — the exact distance cannot misorder the true
neighbor once shortlisted).

Method: wall-clock, single cold run per method on an otherwise idle
box, one shared Spark session (JVM warm-up paid by the first method —
order the sweep accordingly or discount its row).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.constants import patched  # noqa: E402
from tools.scale_rehearsal import (  # noqa: E402
    EMB_SEP_DIM,
    EMB_SEP_N,
    EMB_SEP_PAIRS,
    separated_embeddings,
)

DEFAULT_DIR = "/tmp/embsep100k_q"


def _n_pairs(n: int) -> int:
    """Planted pairs scale with the corpus (2% of vectors, capped at
    the standard 1000) so small smoke corpora keep the pair stride
    inside bounds."""
    return min(EMB_SEP_PAIRS, n // 100)


def _permutation(n: int, pairs: list[tuple[int, int]]):
    """old_id -> new_id with planted FIRST members mapped to
    0..len(pairs)-1 (in pair order) and everything else packed after
    in original order. Returns (perm, partner_of) where
    partner_of[query_new_id] = partner_new_id."""
    import numpy as np

    a_ids = [a for a, _ in pairs]
    perm = np.full(n, -1, dtype=np.int64)
    for qi, a in enumerate(a_ids):
        perm[a] = qi
    nxt = len(a_ids)
    for old in range(n):
        if perm[old] < 0:
            perm[old] = nxt
            nxt += 1
    partner_of = {int(perm[a]): int(perm[b]) for a, b in pairs}
    return perm, partner_of


def gen(out_dir: str, n: int = EMB_SEP_N) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, v, pairs = separated_embeddings(n=n, n_pairs=_n_pairs(n))
    perm, _ = _permutation(n, pairs)
    import numpy as np

    order = np.argsort(perm)  # row for new_id k is old row order[k]
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(
                [row for row in v[order].tolist()],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(
                np.zeros(n, dtype=np.int32), type=pa.int32()
            ),
        }
    )
    pq.write_table(table, f"{out_dir}/embeddings.parquet")
    print(f"embeddings: {n} rows (queries = planted ids 0..{len(pairs)-1}) -> {out_dir}")


def _run_method(spark, d: str, method: str, n_queries: int):
    from pyspark.sql import functions as F

    from mpi_mapreduce_spark.datamodel import load_table
    from mpi_mapreduce_spark.functions import vectors as VEC
    from mpi_mapreduce_spark.operators import similarity as S

    emb = load_table(spark, d, "embeddings")

    def norm():
        return emb.select(
            "vec_id",
            VEC.normalize_arrow(VEC.as_double(F.col("embedding"))).alias("v"),
        )

    def qs(corpus):
        return corpus.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )

    def raw():
        return emb.select(
            "vec_id", VEC.as_double(F.col("embedding")).alias("e")
        )

    name, _, arg = method.partition(":")
    if name == "lsh":
        c = norm()
        with patched(S, LSH_PROBE_BITS_DEFAULT=int(arg or 1)):
            return S.ann_lsh(c, qs(c), EMB_SEP_DIM)
    if name == "ivf":
        c = norm()
        cents = S.ivf_centroids(c)
        with patched(S, IVF_PROBES=int(arg or S.IVF_PROBES)):
            return S.ann_ivf(c, qs(c), cents)
    if name == "pq":
        with patched(S, N_QUERIES=n_queries):
            return S.pq_adc_topk(raw())
    if name == "pq_rerank":
        shortlist = int(arg or S.PQ_RERANK_SHORTLIST)
        with patched(S, N_QUERIES=n_queries, PQ_RERANK_SHORTLIST=shortlist):
            return S.pq_rerank_topk(raw())
    if name == "exact":
        c = norm()
        return S.knn_topk(c, qs(c))
    raise SystemExit(f"unknown method {method}")


def run(methods: list[str], d: str, n: int = EMB_SEP_N) -> None:
    from mpi_mapreduce_spark.session import get_spark

    _, _, pairs = separated_embeddings(n=n, n_pairs=_n_pairs(n))
    _, partner_of = _permutation(n, pairs)
    n_queries = len(pairs)

    spark = get_spark(app_name="mpi_mapreduce_spark-ann-recall")
    print("| method | wall | planted-partner recall | partner rank when found |")
    for m in methods:
        t0 = time.perf_counter()
        rows = _run_method(spark, d, m, n_queries).collect()
        wall = time.perf_counter() - t0
        found_rank = {
            r.query_id: r.rank
            for r in rows
            if partner_of.get(r.query_id) == r.vec_id
        }
        recall = len(found_rank) / n_queries
        ranks = sorted(found_rank.values())
        rk = (
            f"mean {sum(ranks)/len(ranks):.2f}, max {ranks[-1]}"
            if ranks
            else "-"
        )
        print(
            f"| {m} | {wall:.1f} s | {recall:.3f} "
            f"({len(found_rank)}/{n_queries}) | {rk} |",
            flush=True,
        )
    spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "gen":
        out = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_DIR
        gen(out)
    elif mode == "run":
        methods = (
            sys.argv[2].split(",")
            if len(sys.argv) > 2
            else ["lsh:1", "lsh:2", "pq_rerank:50", "pq_rerank:100", "pq_rerank:200"]
        )
        d = sys.argv[3] if len(sys.argv) > 3 else DEFAULT_DIR
        run(methods, d)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
