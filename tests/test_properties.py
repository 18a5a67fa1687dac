"""Hypothesis property tests — randomized inputs for the invariants
the engine's correctness story leans on hardest: order/partitioning
independence of the exact float aggregation, bit-exactness of the
reference djb2 partitioner, and stability of the deterministic
train/val/test split. Each example drives a tiny local Spark job, so
example counts are kept small; the fixed-seed unit tests in
test_exact.py / test_mapreduce.py stay as the fast always-on guard."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mpi_mapreduce_spark.functions import exact as ex
from mpi_mapreduce_spark.operators.mapreduce import djb2

# two-decimal "money" doubles — the shape the engine quantizes at
# scale 2 throughout
money = st.integers(min_value=-10**7, max_value=10**7).map(
    lambda c: c / 100.0
)


def _serial_quantized_sum(values, scale):
    m = 10**scale
    total = 0
    for v in values:
        x = v * m
        q = int(x + 0.5) if x >= 0 else -int(-x + 0.5)
        total += q
    return total / m


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(money, min_size=1, max_size=300))
def test_quantized_sum_invariant_under_partitioning(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    want = _serial_quantized_sum(vals, 2)
    for parts in (1, 5):
        got = (
            df.repartition(parts)
            .agg(ex.quantized_sum("v", 2).alias("s"))
            .collect()[0]["s"]
        )
        assert got == want, f"parts={parts}: {got} != {want}"


@given(
    key=st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=127),
        min_size=0,
        max_size=32,
    )
)
@settings(max_examples=300, deadline=None)
def test_djb2_matches_reference_c_semantics(key):
    """Pure-python check (no Spark): 64-bit wraparound, byte-wise *33+c
    (reference utils.c:10-19). Re-derive with explicit modular
    arithmetic as the independent model."""
    h = 5381
    for b in key.encode("utf-8"):
        h = (h * 33 + b) % (2**64)
    assert djb2(key) == h


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ids=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200))
def test_split_assignment_depends_only_on_key(spark, ids):
    """The train/val/test split must be a pure function of the id:
    same assignment regardless of row order, partitioning, or what
    other rows exist (subset invariance is what makes the split safe
    to compute incrementally at 100 TB)."""
    from mpi_mapreduce_spark.operators.training import with_split

    rows = [(i,) for i in sorted(ids)]
    full = {
        r.doc_id: (r.bucket, r.split)
        for r in with_split(
            spark.createDataFrame(rows, "doc_id long")
        ).collect()
    }
    half_ids = sorted(ids)[::2]
    half = {
        r.doc_id: (r.bucket, r.split)
        for r in with_split(
            spark.createDataFrame([(i,) for i in half_ids], "doc_id long")
            .repartition(3)
        ).collect()
    }
    for i in half_ids:
        assert half[i] == full[i]


# lowercase-word documents — the tokenizer's input shape
_words = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=3), min_size=0, max_size=12
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_words, min_size=1, max_size=5), n=st.integers(2, 5))
def test_positional_ngrams_match_python_reference(spark, docs, n):
    """positional_ngram_rows agrees with a direct python derivation on
    arbitrary token sequences: full n-grams at every offset, the
    whole-doc gram for short docs, nothing for empty docs."""
    from mpi_mapreduce_spark.operators.dedup import positional_ngram_rows

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.q): (r.glen, r.s)
        for r in positional_ngram_rows(df, n).collect()
    }
    want = {}
    for i, ws in enumerate(docs):
        if not ws:
            continue
        if len(ws) >= n:
            for q in range(len(ws) - n + 1):
                want[(i, q)] = (n, " ".join(ws[q : q + n]))
        else:
            want[(i, 0)] = (len(ws), " ".join(ws))
    assert got == want


def _py_shingle_set(ws, n=3):
    if not ws:
        return set()
    if len(ws) >= n:
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
    return {" ".join(ws)}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_words, min_size=2, max_size=6), cap=st.integers(1, 4))
def test_capped_containment_matches_python_reference(spark, docs, cap):
    """containment_pairs with max_shingle_df agrees with a direct
    python derivation of the filtered-vocabulary semantics: drop every
    shingle whose corpus doc-frequency exceeds the cap, THEN take
    |A∩B| / min(|A|,|B|) over the filtered sets (sizes recomputed
    post-filter — the same convention the capped Jaccard path uses)."""
    import math
    from collections import Counter

    from mpi_mapreduce_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        containment_pairs,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, max_shingle_df=cap).collect()
    }
    sh = {i: _py_shingle_set(ws) for i, ws in enumerate(docs)}
    dfreq = Counter(s for S in sh.values() for s in S)
    filt = {i: {s for s in S if dfreq[s] <= cap} for i, S in sh.items()}
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            A, B = filt[a], filt[b]
            inter = len(A & B)
            if not A or not B or inter == 0:
                continue
            c = math.floor(inter / min(len(A), len(B)) * 1e6 + 0.5) / 1e6
            if c >= CONTAINMENT_THRESHOLD:
                want[(a, b)] = c
    assert got == want


# longer docs so ≥SPAN_N-token repeats can actually occur; tiny
# alphabet makes shared n-grams likely
_span_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=1), min_size=0, max_size=24
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_span_words, min_size=2, max_size=4), n=st.integers(2, 4))
def test_duplicated_spans_match_python_reference(spark, docs, n):
    """duplicated_span_rows agrees with a direct python derivation:
    mark every token covered by an n-gram occurring in >= 2 distinct
    docs, then emit maximal runs of covered positions."""
    import pytest

    from mpi_mapreduce_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    with pytest.MonkeyPatch.context() as m:
        m.setattr(D, "SPAN_N", n)
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in D.duplicated_span_rows(df).collect()
        }

    # python reference: gram -> set of docs, covered positions, islands
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for i, ws in enumerate(docs):
        for q in range(len(ws) - n + 1):
            gram_docs[tuple(ws[q : q + n])].add(i)
    want = set()
    for i, ws in enumerate(docs):
        covered = set()
        for q in range(len(ws) - n + 1):
            if len(gram_docs[tuple(ws[q : q + n])]) >= 2:
                covered.update(range(q, q + n))
        run = []
        for p in sorted(covered) + [None]:
            if run and (p is None or p != run[-1] + 1):
                want.add((i, run[0], run[-1], len(run)))
                run = []
            if p is not None:
                run.append(p)
    assert got == want


# ---------------------------------------------------------------------------
# Round-8 sketch invariants: Bloom packing + no-FN, CMS never-undercount
# ---------------------------------------------------------------------------

_word = st.text(
    alphabet=st.characters(
        min_codepoint=ord("a"), max_codepoint=ord("z")
    ),
    min_size=1,
    max_size=8,
)


def _bloom_py_reference(texts):
    """Packed (word, bits) dict computed the oracle's way in pure
    python — the third independent implementation of the md5
    double-hashing (Spark expressions, DuckDB SQL, this)."""
    import hashlib

    from mpi_mapreduce_spark.operators.dedup import (
        BLOOM_BITS,
        BLOOM_HASHES,
        BLOOM_WORD_BITS,
    )

    words: dict[int, int] = {}
    for t in set(texts):
        h = hashlib.md5(t.encode()).hexdigest()
        h1, h2 = int(h[:15], 16), int(h[16:31], 16)
        for i in range(BLOOM_HASHES):
            pos = (h1 + i * h2) % BLOOM_BITS
            w, b = pos // BLOOM_WORD_BITS, pos % BLOOM_WORD_BITS
            words[w] = words.get(w, 0) | (1 << b)
    return words


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(_word, min_size=1, max_size=25),
    batch=st.lists(_word, min_size=1, max_size=10),
)
def test_bloom_packing_matches_reference_and_never_misses(
    spark, corpus, batch
):
    from mpi_mapreduce_spark.operators import dedup as D

    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
    )
    filt = D.bloom_build(cdf)
    got = {(r.word, r.bits) for r in filt.collect()}
    want = {(w, b) for w, b in _bloom_py_reference(corpus).items()}
    assert got == want
    seen = {r.doc_id: r.bloom_seen for r in D.bloom_screen(bdf, filt).collect()}
    members = set(corpus)
    for i, t in enumerate(batch):
        if t in members:
            assert seen[i], (t, "false negative")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toks=st.lists(_word, min_size=1, max_size=60))
def test_cms_matches_reference_and_never_undercounts(spark, toks):
    import hashlib
    from collections import Counter

    from mpi_mapreduce_spark.operators import sketches as SK

    tdf = spark.createDataFrame([(t,) for t in toks], "term string")
    got = {(r.j, r.c): r.cnt for r in SK.cms_build(tdf).collect()}
    want: dict[tuple[int, int], int] = {}
    for t in toks:
        for j in range(SK.CMS_DEPTH):
            h = hashlib.md5(f"{j}:{t}".encode()).hexdigest()
            c = int(h[:15], 16) % SK.CMS_WIDTH
            want[(j, c)] = want.get((j, c), 0) + 1
    assert got == want
    for t, n in Counter(toks).items():
        est = min(
            got[
                (
                    j,
                    int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:15], 16)
                    % SK.CMS_WIDTH,
                )
            ]
            for j in range(SK.CMS_DEPTH)
        )
        assert est >= n
