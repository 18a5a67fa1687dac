"""Seeded input generator for the benchmark.

Every table has the name and schema of the engine's fixture tables
(``mpi_mapreduce_spark.datamodel.TABLES``), so the program under test
receives nothing but parquet directories it already knows how to read.
The same seed always yields byte-identical files.

* :func:`star_schema` — the relational star schema plus a small
  document corpus for the MapReduce jobs. ``o_custkey`` and
  ``l_suppkey`` are drawn Zipf-skewed over a seed-shuffled key order,
  so the hot keys move with the seed.
* :func:`curation_corpus` — a ``documents`` table with a planted share
  of verbatim replicas and lightly edited near-duplicates; the ground
  truth names the source doc of every planted copy.
* :func:`nightly_batches` — a sequence of nightly (docs, vecs) batches
  where a share of each night is copied or edited from earlier nights.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: word list of the fixture corpus, then a longer tail; drawn with
#: Zipf-like weights so token and bigram frequencies are skewed
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch "
    "of and to in is for on with as by at from that this be are was it an "
    "or not shard index bloom sketch token corpus model train eval shuffle "
    "reduce map sum count min max skew cache disk memory node worker task "
    "stage plan cost rule schema parquet file block page frame graph edge "
    "vertex rank score label text word char byte bit flag state ledger "
    "night week day hour minute second user event click view buy sell price "
    "cheap dear new old hot cold red blue green long short wide narrow"
).split()

EMBED_DIM = 64
_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # perturbs another's draws
    return np.random.default_rng([seed, *stream.encode()])


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float):
    """``size`` draws from keys 0..n_keys-1 with P(rank k) ∝ 1/k^s; the
    rank-to-key map is a seeded permutation."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=size, p=w / w.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def _days(base: dt.datetime, offsets) -> pa.Array:
    base_us = (base - _EPOCH) // dt.timedelta(microseconds=1)
    us = base_us + np.asarray(offsets, dtype=np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), size) / 100, 2)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    w = 1.0 / np.arange(1, len(VOCAB) + 1, dtype=np.float64) ** 0.7
    idx = rng.choice(len(VOCAB), size=n, p=w / w.sum())
    return [VOCAB[i] for i in idx]


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100):
    lens = rng.integers(lo, hi + 1, n)
    flat = _words(rng, int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(flat[pos : pos + k]))
        pos += k
    return out


def _edit(rng: np.random.Generator, text: str, share: float) -> str:
    """Replace ``share`` of the tokens (at least one) with other words."""
    toks = text.split()
    k = max(1, round(share * len(toks)))
    for i in rng.choice(len(toks), size=k, replace=False):
        new = toks[i]
        while new == toks[i]:
            new = VOCAB[int(rng.integers(len(VOCAB)))]
        toks[i] = new
    return " ".join(toks)


def _documents(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                rng.choice(["en", "zh", "es", "fr", "de"], n), pa.string()
            ),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, 20, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _vectors(rng: np.random.Generator, n: int, first_id: int = 0):
    """Unit vectors around 10 seeded label centres."""
    centres = _rng(0, "centres").normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    v = centres[labels] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return np.arange(first_id, first_id + n, dtype=np.int64), v.astype(
        np.float32
    ), labels


def _embeddings_table(ids, vecs, labels=None) -> pa.Table:
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
    }
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    return pa.table(cols)


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    base_us = (dt.datetime(2024, 1, 1) - _EPOCH) // dt.timedelta(microseconds=1)
    ts = np.sort(base_us + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(
                rng.choice(["signup", "purchase", "view", "click", "error"], n),
                pa.string(),
            ),
            "value": pa.array(_money(rng, 0, 560, n), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def _dimension_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    r = _rng(seed, "dims")
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    adjs = "large hot cold small shiny rough smooth heavy".split()
    nouns = "ring bolt widget gear nut screw valve spring".split()
    types = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
    pk = np.arange(n_p)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, n_c),
                "c_mktsegment": pa.array(r.choice(segs, n_c), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
                "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
                "s_acctbal": _money(r, -999.99, 9999.99, n_s),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(pk, pa.int64()),
                "p_name": [
                    f"{adjs[a]} {nouns[b]}"
                    for a, b in zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))
                ],
                "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n_p)],
                "p_type": pa.array(r.choice(types, n_p), pa.string()),
                "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
                "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
            }
        ),
    }


def _fact_tables(seed: int, sf: float, skew: float) -> dict[str, pa.Table]:
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l = int(1_500_000 * sf), int(6_000_000 * sf)
    r = _rng(seed, "orders")
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": _zipf_keys(r, n_c, n_o, skew),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_o), pa.string()),
            "o_totalprice": _money(r, 1000, 500_000, n_o),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), r.integers(0, 2405, n_o)),
            "o_orderpriority": pa.array(r.choice(prio, n_o), pa.string()),
        }
    )
    r = _rng(seed, "lineitem")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": _zipf_keys(r, n_s, n_l, skew),
            "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
            "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, n_l),
            "l_discount": r.integers(0, 11, n_l) / 100,
            "l_tax": r.integers(0, 9, n_l) / 100,
            "l_returnflag": pa.array(r.choice(["N", "R", "A"], n_l), pa.string()),
            "l_linestatus": pa.array(r.choice(["F", "O"], n_l), pa.string()),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), r.integers(0, 2499, n_l)),
        }
    )
    return {"orders": orders, "lineitem": lineitem}


def _write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=1 << 20)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def _side_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    r = _rng(seed, "side")
    ids, vecs, labels = _vectors(r, n_vecs)
    return {
        "events": _events(r, 2000),
        "documents": _documents(r, _texts(r, n_docs)),
        "embeddings": _embeddings_table(ids, vecs, labels),
    }


def star_schema(seed: int, out_dir: str, sf: float, skew: float = 0.9) -> dict:
    """Write all ten tables for the relational workload; returns
    ``{"tables": {name: {rows, bytes}}}``."""
    tables = {
        **_dimension_tables(seed, sf),
        **_fact_tables(seed, sf, skew),
        **_side_tables(seed, int(50_000 * sf), 200),
    }
    return {"tables": _write(tables, out_dir)}


def curation_corpus(
    seed: int,
    out_dir: str,
    n_docs: int,
    replica_share: float = 0.3,
    near_share: float = 0.2,
    edit_share: float = 0.03,
) -> dict:
    """Write all ten tables, ``documents`` carrying planted duplicates.

    Near-duplicates copy an original of at least 40 tokens with
    ``edit_share`` of its tokens replaced, which keeps their word
    3-shingle Jaccard with the source well above the engine's 0.5
    threshold. Returns ``{"tables": ..., "planted": [[copy_id,
    source_id, kind], ...]}`` in doc-id space."""
    r = _rng(seed, "curation")
    n_rep, n_near = int(n_docs * replica_share), int(n_docs * near_share)
    n_orig = n_docs - n_rep - n_near
    originals = _texts(r, n_orig)
    long_ids = [i for i, t in enumerate(originals) if len(t.split()) >= 40]
    texts, source, kind = list(originals), list(range(n_orig)), ["original"] * n_orig
    for i in r.integers(0, n_orig, n_rep):
        texts.append(originals[i])
        source.append(int(i))
        kind.append("replica")
    for i in r.choice(long_ids, n_near):
        texts.append(_edit(r, originals[i], edit_share))
        source.append(int(i))
        kind.append("near")
    order = r.permutation(n_docs)  # doc_id = position after shuffling
    doc_id_of = np.empty(n_docs, np.int64)
    doc_id_of[order] = np.arange(n_docs)
    planted = [
        [int(doc_id_of[j]), int(doc_id_of[source[j]]), kind[j]]
        for j in range(n_orig, n_docs)
    ]
    tables = {
        **_dimension_tables(seed, 0.001),
        **_fact_tables(seed, 0.001, 0.9),
        **_side_tables(seed, 0, 200),
        "documents": _documents(r, [texts[j] for j in order]),
    }
    return {"tables": _write(tables, out_dir), "planted": sorted(planted)}


def nightly_batches(
    seed: int,
    out_dir: str,
    nights: int,
    docs_per_night: int,
    vecs_per_night: int,
    copy_share: float = 0.3,
) -> dict:
    """Write ``out_dir/night<k>/{docs,vecs}/part.parquet`` per night.

    From night 1 on, ``copy_share`` of each night's docs are verbatim
    or edited copies of earlier nights' docs (half each) and the same
    share of its vectors are jittered copies of earlier vectors.
    Returns per-night byte counts and the planted doc copies."""
    r = _rng(seed, "nightly")
    all_texts: list[str] = []
    all_vecs = np.zeros((0, EMBED_DIM), np.float32)
    planted, ingest = [], []
    for night in range(nights):
        n_copy = int(docs_per_night * copy_share) if night else 0
        base = len(all_texts)
        texts = _texts(r, docs_per_night - n_copy, lo=40)
        for j, src in enumerate(r.integers(0, base, n_copy) if n_copy else []):
            edited = j % 2 == 1
            texts.append(_edit(r, all_texts[src], 0.03) if edited else all_texts[src])
            planted.append(
                [base + docs_per_night - n_copy + j, int(src),
                 "near" if edited else "replica"]
            )
        all_texts.extend(texts)
        v_copy = int(vecs_per_night * copy_share) if night else 0
        ids, vecs, _ = _vectors(r, vecs_per_night, first_id=len(all_vecs))
        if v_copy:
            src = r.integers(0, len(all_vecs), v_copy)
            jitter = 0.01 * r.normal(size=(v_copy, EMBED_DIM))
            vecs[-v_copy:] = all_vecs[src] + jitter.astype(np.float32)
        all_vecs = np.concatenate([all_vecs, vecs])
        d = os.path.join(out_dir, f"night{night}")
        docs = pa.table(
            {
                "doc_id": pa.array(np.arange(base, base + docs_per_night), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        )
        nbytes = 0
        for sub, t in (("docs", docs), ("vecs", _embeddings_table(ids, vecs))):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
            path = os.path.join(d, sub, "part.parquet")
            pq.write_table(t, path)
            nbytes += os.path.getsize(path)
        ingest.append({"docs": docs_per_night, "vecs": vecs_per_night, "bytes": nbytes})
    return {"nights": ingest, "planted": planted}
