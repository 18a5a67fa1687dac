"""Text-analysis operators over ``documents`` — language ID, quality
scoring, token statistics, fingerprinting. All native expressions
(regex + length arithmetic + explode/agg); nothing leaves the JVM.
Every op here has a DuckDB oracle — the heuristics are deliberately
SQL-expressible arithmetic so the gate covers them end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.functions import exact as ex
from mpi_mapreduce_spark.functions.text import FP_MOD, tokens

#: tiny per-language stopword lexicons for the n-gram/stopword
#: language-ID heuristic; deterministic argmax order = lexicon order
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "de", "las"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _count_token(toks: Column, word: str) -> Column:
    return F.size(F.filter(toks, lambda t: t == F.lit(word)))


# ---------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts via one split pass,
    average token length via length arithmetic (no per-token rows)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", tokens(F.col("text")).alias("toks"), "text"
    )
    n_tok = F.size("toks").cast("long")
    total_tok_chars = F.length(F.regexp_replace("text", r"\s", "")).cast("double")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        ex.quantize(
            F.when(n_tok > 0, total_tok_chars / n_tok).otherwise(F.lit(0.0)), 4
        ).alias("avg_token_len"),
    )


def _lang_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, pred_lang): stopword-lexicon language ID —
    score = stopword hits per language; prediction = argmax with
    deterministic lexicon-order tiebreak ('en' wins ties)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )
    scores = {
        lang: sum(
            (_count_token(F.col("toks"), w) for w in words), F.lit(0)
        ).alias(f"score_{lang}")
        for lang, words in STOPWORDS.items()
    }
    d = d.select("doc_id", "lang", *scores.values())
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{x}") for x in langs])
    pred = F.lit(None).cast("string")
    # build argmax right-to-left so earlier lexicon order wins ties
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return d.select("doc_id", "lang", pred.alias("pred_lang"))


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc language prediction + agreement with the table's lang
    column (see _lang_predictions for the scorer)."""
    p = _lang_predictions(spark, sf_dir)
    return p.select(
        "doc_id",
        "pred_lang",
        (F.col("pred_lang") == F.col("lang")).alias("agrees"),
    )


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation rollup: the (true lang, predicted lang)
    confusion matrix with per-true-language share — how curation
    pipelines audit a language filter before trusting it to route
    documents. Counts are exact ints; the share is one division of
    exact ints (identical doubles in any engine), quantized anyway."""
    p = _lang_predictions(spark, sf_dir)
    counts = p.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    per_true = W.partitionBy("lang")
    return counts.select(
        "lang",
        "pred_lang",
        "n",
        ex.quantize(
            F.col("n") / F.sum("n").over(per_true), 6
        ).alias("share_of_true"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1]: mix of length score, alpha
    ratio, stopword ratio, and mean-word-length plausibility — the
    standard cheap pre-filter in front of an LLM data pipeline."""
    return quality_score_frame(_docs(spark, sf_dir))


def quality_score_frame(
    docs: DataFrame, passthrough: list[str] | None = None
) -> DataFrame:
    """Core of :func:`text_quality_score` over any (doc_id, text)
    frame — a pure per-row projection (NO shuffle, no corpus
    statistics), which is why composed pipelines inline it
    (``passthrough`` carries extra source columns alongside the
    scores) instead of joining its output back on doc_id."""
    extra = [c for c in (passthrough or []) if c not in ("doc_id", "text")]
    keep_text = bool(passthrough) and "text" in passthrough
    d = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("toks"), *extra
    )
    n = F.length("text").cast("double")
    n_tok = F.size("toks").cast("double")
    alpha = (
        n - F.length(F.regexp_replace("text", "[A-Za-z ]", "")).cast("double")
    ) / F.when(n > 0, n).otherwise(F.lit(1.0))
    en_hits = sum(
        (_count_token(F.col("toks"), w) for w in STOPWORDS["en"]), F.lit(0)
    ).cast("double")
    stop_ratio = F.when(n_tok > 0, en_hits / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    mean_wlen = F.when(
        n_tok > 0,
        F.length(F.regexp_replace("text", r"\s", "")).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 8), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    score = 0.25 * len_score + 0.35 * alpha + 0.2 * stop_ratio + 0.2 * wlen_score
    return d.select(
        "doc_id",
        *(["text"] if keep_text else []),
        *extra,
        ex.quantize(score, 4).alias("quality"),
        ex.quantize(stop_ratio, 4).alias("stopword_ratio"),
        ex.quantize(alpha, 4).alias("alpha_ratio"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive positional fingerprint:
    Σ (pos+1) * ascii(char) mod 2^31-1. Computed distributed via
    posexplode + grouped sum — each char row is (doc_id, pos, code),
    the modulo keeps both engines in exact integer range. Detects
    reorderings that bag-of-chars hashes miss."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split("text", "")).alias("pos", "ch")
    )
    contrib = (F.col("pos") + 1).cast("long") * F.ascii("ch").cast("long")
    return (
        d.groupBy("doc_id")
        .agg((F.sum(contrib) % FP_MOD).alias("fingerprint"))
    )


def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts: maximal runs of letters /
    digits / punctuation (the GPT-2 pre-tokenizer's split shape, minus
    contraction special-cases). Real BPE merge tables live in a
    tokenizer service; counting pre-token runs is the scalable proxy a
    pipeline uses for token-budget accounting.

    Because the three character classes are disjoint, each class's
    maximal runs are independent of the others — three native
    regexp_count calls (whole-stage codegen, no arrays, no
    higher-order functions) instead of materializing the token list."""
    d = _docs(spark, sf_dir)
    n_word = F.regexp_count("text", F.lit("[a-zA-Z]+")).cast("long")
    n_num = F.regexp_count("text", F.lit("[0-9]+")).cast("long")
    n_other = F.regexp_count("text", F.lit(r"[^a-zA-Z0-9\s]+")).cast("long")
    return d.select(
        "doc_id",
        n_word.alias("n_word_tokens"),
        n_num.alias("n_number_tokens"),
        n_other.alias("n_other_tokens"),
        (n_word + n_num + n_other).alias("n_bpe_tokens"),
    )


def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: 1 − distinct/total word-trigrams —
    the standard boilerplate/loop detector (a high score means the doc
    repeats itself). Distinct counts come from the row-shaped shingle
    pipeline (codegen + map-side combine); totals are O(1) arithmetic
    on the token count, so no second shingle pass."""
    from mpi_mapreduce_spark.operators.dedup import shingle_rows

    docs = _docs(spark, sf_dir)
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    totals = docs.select(
        "doc_id",
        F.when(n_tok >= 3, n_tok - 2).otherwise(F.lit(1)).alias("n_total"),
    )
    distinct = shingle_rows(docs).groupBy("doc_id").agg(
        F.count("*").alias("n_distinct")
    )
    rep = 1 - F.col("n_distinct").cast("double") / F.col("n_total").cast("double")
    return totals.join(distinct, "doc_id").select(
        "doc_id",
        "n_total",
        "n_distinct",
        ex.quantize(rep, 6).alias("repetition"),
    )


def text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity signals: unigram Shannon entropy
    (nats) and type-token ratio — the Gopher-style repetitiveness
    screens (low entropy / low TTR ⇒ templated or degenerate text)
    that complement text_repetition_score's n-gram view.

    One explode + two grouped aggregates, both with map-side combine;
    the per-term entropy contribution −(c/n)·ln(c/n) is quantized
    per row before the order-independent quantized sum, so the
    distributed result is bit-identical to the oracle. Linear at any
    scale; shuffles once on (doc_id, term), once on doc_id — the
    second groupBy reuses the first's partitioning prefix."""
    return unigram_entropy_stats(_docs(spark, sf_dir))


def unigram_entropy_stats(docs: DataFrame) -> DataFrame:
    """Core of :func:`text_unigram_entropy` over any (doc_id, text)
    frame — separated so tests can pin the entropy extremes."""
    terms = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tc = terms.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    n = F.sum("c")
    per = tc.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
    )
    # entropy needs n per doc on each (doc, term) row: one more pass
    # over tc joined with the per-doc totals (broadcast is wrong here
    # — the totals frame is corpus-sized — so this is a doc_id
    # equi-join on the partitioning tc already has)
    contrib = ex.quantize(
        -(F.col("c") / F.col("n_tokens"))
        * F.log(F.col("c") / F.col("n_tokens")),
        6,
    )
    ent = (
        tc.join(per, "doc_id")
        .select("doc_id", contrib.alias("h"))
        .groupBy("doc_id")
        .agg(ex.quantized_sum("h", 6).alias("entropy"))
    )
    return per.join(ent, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_types",
        ex.quantize(
            F.col("n_types").cast("double") / F.col("n_tokens"), 6
        ).alias("ttr"),
        "entropy",
    )


ORACLE_UNIGRAM_ENTROPY = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(tok) AS term FROM toks
    ), tc AS (
      SELECT doc_id, term, count(*) AS c FROM t GROUP BY doc_id, term
    ), per AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types
      FROM tc GROUP BY doc_id
    ), ent AS (
      SELECT tc.doc_id,
             {ex.sql_sum(ex.sql_quantize('-(CAST(tc.c AS DOUBLE) / per.n_tokens) * ln(CAST(tc.c AS DOUBLE) / per.n_tokens)', 6), 6)}
               AS entropy
      FROM tc JOIN per USING (doc_id)
      GROUP BY tc.doc_id
    )
    SELECT per.doc_id, per.n_tokens, per.n_types,
           {ex.sql_quantize('CAST(per.n_types AS DOUBLE) / per.n_tokens', 6)} AS ttr,
           ent.entropy
    FROM per JOIN ent USING (doc_id)
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword/topic
    extractor in front of corpus curation and retrieval indexing.

    Shape at scale: term frequencies are one explode + groupBy
    (map-side combine shrinks the shuffle to distinct (doc, term)
    pairs); document frequencies aggregate the tf rows again by term
    only; the corpus size N is a one-row broadcast. The tf⋈df join
    shuffles on term — a broadcast would need the full vocabulary,
    which at 100 TB does NOT fit (web-scale vocab is billions of
    types), so the equi-join shuffle is the correct plan, and Catalyst
    reuses the tf-side partitioning for the final per-doc window.

    Ranking ties (identical quantized score) break on term ASC so both
    engines pick the same top-3 deterministically; idf uses the
    smoothed form ln((N+1)/(df+1))."""
    docs = _docs(spark, sf_dir)
    terms = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ex.quantize(
                F.col("tf").cast("double")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                ),
                4,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus bigrams — the first step of n-gram language
    modeling and collocation mining.

    Bigrams are row-shaped (posexplode + one lead() over the per-doc
    window — same codegen'd pipeline as shingle_rows); the global count
    gets map-side combine, and the top-100 physicalizes as
    TakeOrderedAndProject (per-partition heaps, never a global sort).
    The 100-boundary tie breaks on bigram ASC in both engines."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("p")
    big = (
        tok.select(F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bigram"),
                   F.lead("tok", 1).over(w).alias("_t1"))
        .where(F.col("_t1").isNotNull())
        .select("bigram")
    )
    return (
        big.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(100)
    )


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under an add-one-smoothed bigram language
    model trained on the corpus itself — the CCNet-style
    perplexity-proxy quality signal real curation pipelines rank and
    filter by (a doc far from the corpus distribution scores high).

    H(doc) = (1/B) Σ −ln((c(w1,w2)+1)/(c1(w1)+V)) over the doc's B
    bigrams, with c1(w1) = Σ_w2 c(w1,w2) (context count) and V =
    corpus vocabulary size. Docs with < 2 tokens have no bigram and
    are excluded.

    Plan at 100 TB: bigram rows (posexplode + one lead() per-doc
    window — the shingle pipeline's shape), global (w1,w2) counts with
    map-side combine, context counts derived FROM the count table (a
    second tiny groupBy — never re-scanning the corpus), assembled
    into one per-type stats table and joined to the instances through
    skew.hot_key_split_join — the Zipf-hot bigrams ride a broadcast
    and never shuffle, only the cold tail takes the shuffle join — V
    a broadcast scalar. Per-term NLL is
    quantized to 4 decimals BEFORE the exact integer-sum rollup, so
    the result is bit-identical under any partitioning and across
    engines (libm ln() may differ in the last ulp; the quantize step
    absorbs it — same discipline as functions.exact)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("p")
    big = (
        tok.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    vocab = tok.agg(F.countDistinct("tok").alias("vs"))
    nll = -F.log(
        (F.col("n12") + F.lit(1.0)) / (F.col("n1") + F.col("vs"))
    )
    # Assemble the per-TYPE stats table first (count-table joins, one
    # row per bigram type — no instance skew), then score instances
    # through ONE hot-split join: on a Zipfian 100 TB corpus the hot
    # bigrams ride a broadcast and never shuffle, and the instance
    # table shuffles at most once instead of twice (VERDICT r11
    # item 6; same values either path, so the hash is unchanged).
    from mpi_mapreduce_spark.operators.skew import hot_key_split_join

    stats = c12.join(c1, "w1")
    scored = (
        hot_key_split_join(big, stats, ["w1", "w2"], hot_by="n12")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        ex.quantized_avg("nll", 4).alias("cross_entropy"),
    )


#: word-n-gram width for the source-pair overlap audit
OVERLAP_N = 3


def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair n-gram overlap matrix (r11) — the corpus-level
    provenance audit a curation pipeline runs before mixing sources:
    for every source pair (a < b), the Jaccard similarity of their
    DISTINCT word-trigram sets, plus the raw set sizes. High overlap
    means two feeds are scraping the same upstream (double-weighted
    training data); the per-source gram sets are also what
    contamination triage inspects first. Pairs with zero common grams
    are omitted (inner join — the absent row IS the answer).

    Scale shape: the pairwise term is over SOURCES (bounded catalog
    cardinality), never documents — (source, gram) distinct rows,
    a gram-keyed self-join (co-partitioned on the join key), and a
    |sources|²-row rollup. At 100 TB the distinct gram table is the
    only corpus-shaped stage and it shuffles once."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(tokens(F.col("text"))).alias("p", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("p")
    leads = [F.lead("tok", i).over(w) for i in range(1, OVERLAP_N)]
    g = (
        tok.select(
            "source",
            F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
            leads[-1].alias("last"),
        )
        .where(F.col("last").isNotNull())
        .select("source", "g")
        .distinct()
    )
    sz = g.groupBy("source").agg(F.count("*").alias("n"))
    a = g.select(F.col("source").alias("source_a"), "g")
    b = g.select(F.col("source").alias("source_b"), "g")
    pairs = (
        a.join(b, "g")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(
            sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")),
            "source_a",
        )
        .join(
            sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            ex.quantize(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_SOURCE_OVERLAP = f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), g AS (
      SELECT DISTINCT source, g FROM (
        SELECT source,
               unnest(list_transform(range(len(tok) - {OVERLAP_N - 1}),
                      i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3]))
                   AS g
        FROM toks WHERE len(tok) >= {OVERLAP_N}
      )
    ), sz AS (
      SELECT source, COUNT(*) AS n FROM g GROUP BY source
    ), p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           {ex.sql_quantize("n_common / (sa.n + sb.n - n_common)", 6)}
               AS jaccard
    FROM p
    JOIN sz sa ON sa.source = p.source_a
    JOIN sz sb ON sb.source = p.source_b
"""


#: absolute discount for the interpolated Kneser-Ney bigram model —
#: the standard 0.75 (Chen & Goodman 1999's fixed-D variant)
KN_DISCOUNT = 0.75


def text_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under an INTERPOLATED KNESER-NEY bigram
    model trained on the corpus (r11) — the smoothing family real
    perplexity filters (KenLM-style) actually use, complementing the
    add-one model of :func:`text_bigram_lm_score` (add-one
    over-penalizes rich contexts; KN backs off by CONTEXT DIVERSITY,
    so 'san francisco' and 'the francisco' separate even at equal
    counts):

    P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1) + λ(w1)·P_cont(w2)
    λ(w1)    = D · N1+(w1,·)/c(w1)
    P_cont(w2) = N1+(·,w2)/N1+(·,·)

    with D = 0.75, N1+(w1,·) the distinct-successor count, N1+(·,w2)
    the distinct-predecessor count, N1+(·,·) the bigram TYPE count —
    every statistic a tiny aggregate OVER the (w1,w2) count table,
    never a corpus re-scan. Scored bigrams are corpus bigrams, so the
    max() clause never zeroes (c ≥ 1 > D).

    Plan at 100 TB: identical shape to the add-one model — bigram
    derivation (posexplode + per-doc lead window), one shuffled count
    table, three SMALL derived aggregates assembled into a per-type
    stats table and joined to the instances through
    skew.hot_key_split_join (hot bigrams broadcast, cold tail
    shuffled), the type count a broadcast scalar. Per-term NLL quantized
    to 4 decimals before the exact integer-sum rollup (cross-engine
    bit stability, the functions.exact discipline)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("p")
    big = (
        tok.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("n12").alias("n1"), F.count("*").alias("t1")
    )
    c2 = c12.groupBy("w2").agg(F.count("*").alias("t2"))
    types = c12.agg(F.count("*").alias("tt"))
    d = F.lit(KN_DISCOUNT)
    p = (F.col("n12") - d) / F.col("n1") + (
        d * F.col("t1") / F.col("n1")
    ) * (F.col("t2") / F.col("tt"))
    # Per-TYPE stats assembled first (three count-table joins on
    # compact keys — one row per bigram type, no instance skew), then
    # ONE hot-split instance join: Zipf-hot bigrams ('of the', ...)
    # ride a broadcast, only the cold tail shuffles, and the instance
    # table shuffles once instead of three times (VERDICT r11 item 6;
    # identical values on either path, hash unchanged).
    from mpi_mapreduce_spark.operators.skew import hot_key_split_join

    stats = c12.join(c1, "w1").join(c2, "w2")
    scored = (
        hot_key_split_join(big, stats, ["w1", "w2"], hot_by="n12")
        .crossJoin(F.broadcast(types))
        .select("doc_id", (-F.log(p)).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        ex.quantized_avg("nll", 4).alias("kn_cross_entropy"),
    )


ORACLE_KN_BIGRAM = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), b AS (
      SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(len(tok) - 1),
                      i -> [tok[i+1], tok[i+2]])) AS bg
        FROM toks WHERE len(tok) >= 2
      )
    ), c12 AS (
      SELECT w1, w2, COUNT(*) AS n12 FROM b GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(n12) AS n1, COUNT(*) AS t1 FROM c12 GROUP BY w1
    ), c2 AS (
      SELECT w2, COUNT(*) AS t2 FROM c12 GROUP BY w2
    ), tt AS (
      SELECT COUNT(*) AS tt FROM c12
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           {{kn_avg}} AS kn_cross_entropy
    FROM b
    JOIN c12 USING (w1, w2)
    JOIN c1 USING (w1)
    JOIN c2 USING (w2)
    CROSS JOIN tt
    GROUP BY b.doc_id
""".replace(
    "{kn_avg}",
    ex.sql_avg(
        "-ln((n12 - 0.75) / n1 + (0.75 * t1 / n1) * (t2 / tt))", 4
    ),
)


ORACLE_BIGRAM_LM = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), b AS (
      SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(len(tok) - 1),
                      i -> [tok[i+1], tok[i+2]])) AS bg
        FROM toks WHERE len(tok) >= 2
      )
    ), c12 AS (
      SELECT w1, w2, COUNT(*) AS n12 FROM b GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(n12) AS n1 FROM c12 GROUP BY w1
    ), v AS (
      SELECT COUNT(DISTINCT t) AS vs
      FROM (SELECT unnest(tok) AS t FROM toks)
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           {ex.sql_avg("-ln((n12 + 1.0) / (n1 + vs))", 4)} AS cross_entropy
    FROM b
    JOIN c12 USING (w1, w2)
    JOIN c1 USING (w1)
    CROSS JOIN v
    GROUP BY b.doc_id
"""


DRIFT_TOP = 20


def text_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift report between two corpus snapshots (here
    the deterministic doc_id-parity halves standing in for yesterday/
    today): per-term KL contribution p_A·ln(p_A/p_B) under add-one
    smoothing, top-20 drifted terms — the audit a crawl pipeline runs
    before admitting a new snapshot into the mixture.

    Exactness discipline: smoothed probabilities are ratios of exact
    integers (identical doubles in any engine); the single ln() per
    term is quantized to 9 decimals so libm ulp differences can't
    flip the hash or the ranking; rank ties break on term. Plan: two
    grouped counts + one full-outer equi-join on term + top-k —
    map-side combine everywhere, no cross product."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.count_if(F.col("is_a")).alias("ca"),
        F.count_if(~F.col("is_a")).alias("cb"),
    )
    totals = toks.agg(
        F.count_if(F.col("is_a")).alias("na"),
        F.count_if(~F.col("is_a")).alias("nb"),
        F.countDistinct("term").alias("v"),
    )
    pa = (F.col("ca") + 1) / (F.col("na") + F.col("v"))
    pb = (F.col("cb") + 1) / (F.col("nb") + F.col("v"))
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "term",
        "ca",
        "cb",
        ex.quantize(pa * F.log(pa / pb), 9).alias("kl_contrib"),
    )
    # top-k FIRST (physicalizes as TakeOrderedAndProject — per-
    # partition heaps, no global sort of the vocabulary), then rank
    # the 20 survivors with a trivially small window
    top = scored.orderBy(F.desc("kl_contrib"), F.asc("term")).limit(
        DRIFT_TOP
    )
    w = W.orderBy(F.desc("kl_contrib"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w))


ORACLE_DRIFT = f"""
    WITH toks AS (
      SELECT doc_id % 2 = 0 AS is_a,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term,
             COUNT(*) FILTER (is_a) AS ca,
             COUNT(*) FILTER (NOT is_a) AS cb
      FROM toks GROUP BY term
    ), totals AS (
      SELECT COUNT(*) FILTER (is_a) AS na,
             COUNT(*) FILTER (NOT is_a) AS nb,
             COUNT(DISTINCT term) AS v
      FROM toks
    ), scored AS (
      SELECT term, ca, cb,
             ROUND(((ca + 1.0) / (na + v))
                   * ln(((ca + 1.0) / (na + v))
                        / ((cb + 1.0) / (nb + v))) * 1000000000.0)
               / 1000000000.0 AS kl_contrib
      FROM counts, totals
    )
    SELECT term, ca, cb, kl_contrib, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY kl_contrib DESC, term) AS rank
      FROM scored
    ) WHERE rank <= {DRIFT_TOP}
"""


#: heavy-hitter support: report terms with freq >= total_tokens / HH_K
HH_K = 200


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (terms with frequency >= N/K) via the
    Misra–Gries sketch: each Arrow batch keeps only K counters, the
    surviving candidate terms are unioned, and ONLY candidates get an
    exact recount.

    Why this shape at 100 TB: a full groupBy(term) shuffles the whole
    vocabulary (billions of types on web text); Misra–Gries shuffles at
    most K terms per input batch. The guarantee is exact, not
    approximate: if a term's global freq f >= N/K then on at least one
    batch its local freq f_i >= n_i/K (mediant inequality), and MG with
    K counters never evicts a term with f_i > n_i/(K+1) — so the
    candidate set is a SUPERSET of the true heavy hitters, and the
    recount + threshold filter makes the final answer exact (hence
    SQL-oracle-checkable). The recount joins tokens against the tiny
    broadcast candidate list; N is a one-row count."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))

    def mg_sketch(batches):
        import pandas as pd

        for pdf in batches:
            counters: dict[str, int] = {}
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < HH_K:
                    counters[t] = 1
                else:
                    for k in list(counters):
                        counters[k] -= 1
                        if counters[k] == 0:
                            del counters[k]
            yield pd.DataFrame({"term": list(counters)})

    cand = toks.mapInPandas(mg_sketch, schema="term string").distinct()
    recount = (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    total = toks.agg(F.count("*").alias("total"))
    return (
        recount.crossJoin(F.broadcast(total))
        .where(F.col("freq") * HH_K >= F.col("total"))
        .select("term", "freq")
    )


# ---------------------------------------------------------------------------
# Per-source boilerplate stripping
# ---------------------------------------------------------------------------

#: word-5-gram spans; a span is boilerplate WITHIN a source when it
#: occurs in >= BOILER_MIN_DF distinct docs of that source (navbars,
#: footers, cookie banners repeat across a domain's pages — CCNet-
#: style cross-document repetition, scoped per source so one site's
#: template can't poison another's content)
BOILER_N = 5
BOILER_MIN_DF = 2


def strip_boilerplate(docs: DataFrame) -> DataFrame:
    """Remove per-source boilerplate spans from documents, token-
    exactly: any token covered by an occurrence of a boilerplate
    5-gram is dropped; the cleaned text is the remaining tokens in
    original order. Returns (doc_id, n_tokens, n_removed, clean_text).

    Plan (all linear, no pairwise term anywhere):
    positional gram rows → distinct (source, gram, doc) → grouped
    doc-frequency per source (map-side combine) → equi-join flagged
    grams back to their occurrences → explode occurrence spans to
    covered token positions → anti-join against token rows → per-doc
    ordered re-assembly (array_sort over collected (p, tok) structs —
    deterministic, positions are unique). At 100 TB each stage
    shuffles on one bounded key (gram string / doc_id); the rebuild
    groups by doc_id, the same partitioning the corpus is read with.
    Docs whose every token is boilerplate come back with empty
    clean_text (left join), not silently dropped."""
    from mpi_mapreduce_spark.operators.dedup import (
        positional_ngram_rows,
        token_rows,
    )

    grams = positional_ngram_rows(docs, BOILER_N)
    g = grams.join(docs.select("doc_id", "source"), "doc_id")
    boiler = (
        g.select("source", "s", "doc_id")
        .distinct()
        .groupBy("source", "s")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= BOILER_MIN_DF)
        .select("source", "s")
    )
    covered = (
        g.join(boiler, ["source", "s"])
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("q"), F.col("q") + F.col("glen") - 1)
            ).alias("p"),
        )
        .distinct()
    )
    tokpos = token_rows(docs)
    kept = tokpos.join(covered, ["doc_id", "p"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    ntok = tokpos.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return ntok.join(clean, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`strip_boilerplate` over documents."""
    return strip_boilerplate(_docs(spark, sf_dir))


def _boiler_gram_sql() -> str:
    return " || ' ' || ".join(f"tok[i+{j}]" for j in range(1, BOILER_N + 1))


ORACLE_BOILERPLATE = f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), toks2 AS (
      SELECT * FROM toks WHERE len(tok) > 0
    ), tokpos AS (
      SELECT doc_id, unnest(range(len(tok))) AS p, unnest(tok) AS t
      FROM toks2
    ), grams AS (
      SELECT doc_id, source,
             CASE WHEN len(tok) >= {BOILER_N}
                  THEN list_transform(range(len(tok) - {BOILER_N - 1}),
                       i -> {{'q': i,
                              'glen': CAST({BOILER_N} AS BIGINT),
                              's': {_boiler_gram_sql()}}})
                  ELSE [{{'q': CAST(0 AS BIGINT),
                          'glen': len(tok),
                          's': array_to_string(tok, ' ')}}] END AS gs
      FROM toks2
    ), g AS (
      SELECT doc_id, source, unnest(gs, recursive := true) FROM grams
    ), boiler AS (
      SELECT source, s
      FROM (SELECT source, s, count(DISTINCT doc_id) AS df
            FROM g GROUP BY source, s)
      WHERE df >= {BOILER_MIN_DF}
    ), covered AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT g.doc_id, unnest(range(g.q, g.q + g.glen)) AS p
        FROM g JOIN boiler USING (source, s)
      )
    ), kept AS (
      SELECT t.doc_id, t.p, t.t
      FROM tokpos t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.p = c.p
      WHERE c.doc_id IS NULL
    ), clean AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    ), ntok AS (
      SELECT doc_id, len(tok) AS n_tokens FROM toks2
    )
    SELECT n.doc_id, n.n_tokens,
           n.n_tokens - COALESCE(c.n_kept, 0) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM ntok n LEFT JOIN clean c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# BPE merge training (iterative)
# ---------------------------------------------------------------------------

#: merge rounds materialized by the registered query — enough to show
#: the loop converging on real pair statistics; a production tokenizer
#: run sets this to its vocab budget (the per-round cost is
#: vocabulary-sized either way)
BPE_MERGE_ROUNDS = 5


def bpe_train_merges(
    docs: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> DataFrame:
    """The trained merges of :func:`bpe_merge_list` as a DataFrame —
    (merge_rank, lhs, rhs, merged, pair_freq), the merge table a
    tokenizer ships."""
    return docs.sparkSession.createDataFrame(
        bpe_merge_list(docs, rounds),
        "merge_rank int, lhs string, rhs string, merged string, pair_freq long",
    )


def bpe_merge_list(
    docs: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> list[tuple[int, str, str, str, int]]:
    """Train the first N byte-pair-encoding merges on the corpus:
    per round, the most frequent adjacent symbol pair (weighted by
    word frequency, ties broken lexicographically) is merged
    everywhere, classic Sennrich-style, starting from characters.

    Returns the driver-side merge list, one ``(merge_rank, lhs, rhs,
    merged, pair_freq)`` tuple per round, so the encode queries build
    their replace chain from it without a DataFrame round trip.

    Scale shape: the corpus is touched ONCE (token count); every
    round after that runs over the DISTINCT-WORD vocabulary weighted
    by frequency — O(vocab symbols) per round, independent of corpus
    size, which is what makes BPE trainable on 100 TB at all. The
    per-round driver round-trip is one 1-row collect (the argmax
    pair); the word-frequency vocabulary is localCheckpoint'ed ONCE
    and each round's reps are the checkpointed reps under the merge
    replaces trained so far, chained as plain string expressions — a
    <= rounds-deep expression over a flat lineage (the lazy-loop
    hygiene of graph.pagerank), so no per-round materialization job.

    Merge application is delimiter-exact string replace (pattern
    ``' lhs rhs '``), left-to-right non-overlapping in both engines —
    a shared-delimiter run like ``l l l l`` therefore merges once per
    scan rather than twice (the classic greedy would pair twice);
    this deterministic variant is pinned identically in the DuckDB
    oracle's chained-CTE rounds."""
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
    merges: list[tuple] = []
    # The trained-merge replaces CHAIN as expressions over the one
    # checkpointed vocabulary frame (<= rounds cheap vectorized string
    # replaces re-applied per round) instead of re-materializing the
    # reps each round — one job per round (the argmax collect) rather
    # than two, with identical per-round rep strings by composition.
    rep_expr = F.col("rep")
    for r in range(1, rounds + 1):
        # adjacent symbol pairs straight off the rep's symbol ARRAY
        # (transform over the slice) — vocab-sized rows, so the
        # interpreted-HOF cost is per word TYPE and tiny, and the
        # per-round job loses the posexplode + per-rep window pass
        # (one exchange+sort fewer; measured 1.4 s vs 2.2 s warm for
        # the 5-round loop at sf0.1, identical merges)
        syms = F.split(F.trim(rep_expr), " ")
        prs = words.select(
            F.explode(
                F.transform(
                    F.slice(syms, 1, F.size(syms) - 1),
                    lambda x, i: F.concat_ws(
                        " ", x, F.element_at(syms, i + 2)
                    ),
                )
            ).alias("pair"),
            "freq",
        )
        top = (
            prs.groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0].pair, top[0].c
        lhs, rhs = pair.split(" ")
        merges.append((r, lhs, rhs, lhs + rhs, cnt))
        rep_expr = F.replace(
            rep_expr, F.lit(f" {pair} "), F.lit(f" {lhs + rhs} ")
        )
        # ADVICE r13: the replace chain nests one level per round, so
        # a caller passing large ``rounds`` (public parameter) would
        # grow expression depth linearly into codegen/analysis limits
        # the old per-round checkpoint form never hit. Re-materialize
        # every 32 rounds to bound the depth while keeping the
        # one-job-per-round win at the default 5.
        if r % 32 == 0:
            words = words.select(
                rep_expr.alias("rep"), "freq"
            ).localCheckpoint()
            rep_expr = F.col("rep")
    return merges


def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered 5-round BPE merge training over documents."""
    return bpe_train_merges(_docs(spark, sf_dir))


def _bpe_ctes(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """The shared chained-CTE merge rounds (word identity carried so
    the encode oracle can join final reps back onto documents)."""
    ctes = [
        """toks AS (
          SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS w
          FROM documents
        ), wf AS (
          SELECT w, COUNT(*) AS freq FROM toks GROUP BY w
        ), w0 AS (
          SELECT w,
                 ' ' || array_to_string(string_split(w, ''), ' ') || ' '
                   AS rep,
                 freq
          FROM wf
        )"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""p{k} AS (
              SELECT pair, CAST(SUM(freq) AS BIGINT) AS c FROM (
                SELECT unnest(list_transform(range(len(l) - 1),
                              i -> l[i+1] || ' ' || l[i+2])) AS pair, freq
                FROM (SELECT string_split(trim(rep), ' ') AS l, freq
                      FROM w{k-1})
              ) GROUP BY pair
            ), t{k} AS (
              SELECT pair, c FROM p{k} ORDER BY c DESC, pair ASC LIMIT 1
            ), w{k} AS (
              SELECT w.w,
                     replace(w.rep, ' ' || t.pair || ' ',
                             ' ' || replace(t.pair, ' ', '') || ' ') AS rep,
                     freq
              FROM w{k-1} w CROSS JOIN t{k} t
            )"""
        )
    return "WITH " + ", ".join(ctes)


def _bpe_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    selects = " UNION ALL ".join(
        f"""SELECT {k} AS merge_rank,
               string_split(pair, ' ')[1] AS lhs,
               string_split(pair, ' ')[2] AS rhs,
               replace(pair, ' ', '') AS merged,
               c AS pair_freq
            FROM t{k}"""
        for k in range(1, rounds + 1)
    )
    return _bpe_ctes(rounds) + " " + selects


ORACLE_BPE_MERGES = _bpe_oracle()


def _bpe_vocab(docs: DataFrame, toks: DataFrame) -> DataFrame:
    """(w, n_sym): the BPE symbol count of every distinct word in
    ``toks``, under the merges trained on ``docs``. The merge list is
    tiny (<= rounds tuples, already on the driver) and is applied IN
    RANK ORDER as chained literal replaces."""
    rep = F.concat(
        F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
    )
    for _, lhs, rhs, merged, _ in bpe_merge_list(docs):
        rep = F.replace(rep, F.lit(f" {lhs} {rhs} "), F.lit(f" {merged} "))
    return toks.select("w").distinct().select(
        "w", F.size(F.split(F.trim(rep), " ")).alias("n_sym")
    )


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-side of the trained tokenizer: apply the
    ``BPE_MERGE_ROUNDS`` trained merges to every word and report
    per-document token statistics — (doc_id, n_words, n_bpe_tokens,
    avg_tokens_per_word). The sequence-length accounting every
    training-data budget (packing, context windows, cost estimates)
    is computed from.

    The merge list is tiny (≤ rounds tuples, trained on the driver);
    merges are applied IN RANK ORDER as chained literal replaces over
    the DISTINCT-WORD vocabulary (:func:`_bpe_vocab`), and per-doc
    sums come from one token-to-vocab equi-join — corpus cost is the
    join + grouped sum, the merge arithmetic amortizes over word
    types."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    return (
        toks.join(_bpe_vocab(docs, toks), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            ex.quantize(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("avg_tokens_per_word"),
        )
    )


ORACLE_BPE_ENCODE = _bpe_ctes() + f"""
    , dtoks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(len(string_split(trim(v.rep), ' '))) AS BIGINT)
             AS n_bpe_tokens,
           ROUND((CAST(SUM(len(string_split(trim(v.rep), ' '))) AS DOUBLE)
                  / COUNT(*)) * 1000000.0) / 1000000.0
             AS avg_tokens_per_word
    FROM dtoks JOIN w{BPE_MERGE_ROUNDS} v USING (w)
    GROUP BY doc_id
"""


def text_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE tokens per whitespace
    word, aggregated by lang: THE cross-lingual tokenizer-fairness
    metric (a language with fertility 2× pays 2× the context budget
    per word). Same pipeline as text_bpe_encode (train merges once,
    apply over the distinct-word vocabulary, one token→vocab
    equi-join) with the final aggregate keyed by lang instead of
    doc_id; fertility = exact Σ tokens / Σ words, one divide,
    quantized."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    return (
        toks.join(_bpe_vocab(docs, toks), "w")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            ex.quantize(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
    )


ORACLE_BPE_FERTILITY = _bpe_ctes() + f"""
    , dtoks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_words,
           CAST(SUM(len(string_split(trim(v.rep), ' '))) AS BIGINT)
             AS n_bpe_tokens,
           ROUND((CAST(SUM(len(string_split(trim(v.rep), ' '))) AS DOUBLE)
                  / COUNT(*)) * 1000000.0) / 1000000.0
             AS fertility
    FROM dtoks JOIN w{BPE_MERGE_ROUNDS} v USING (w)
    GROUP BY lang
"""


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_heavy_hitters": text_heavy_hitters,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_bigram_counts": text_bigram_counts,
    "text_bpe_token_stats": text_bpe_token_stats,
    "text_repetition_score": text_repetition_score,
    "text_lang_id": text_lang_id,
    "text_lang_confusion": text_lang_confusion,
    "text_quality_score": text_quality_score,
    "text_fingerprint": text_fingerprint,
    "text_bigram_lm_score": text_bigram_lm_score,
    "text_kn_bigram_score": text_kn_bigram_score,
    "text_source_overlap": text_source_overlap,
    "text_distribution_drift": text_distribution_drift,
    "text_boilerplate_strip": text_boilerplate_strip,
    "text_bpe_train_merges": text_bpe_train_merges,
    "text_bpe_encode": text_bpe_encode,
    "text_unigram_entropy": text_unigram_entropy,
    "text_bpe_fertility_by_lang": text_bpe_fertility_by_lang,
}


def _oracle_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, x -> x IN ({words})))"


ORACLE = {
    "text_bigram_lm_score": ORACLE_BIGRAM_LM,
    "text_kn_bigram_score": ORACLE_KN_BIGRAM,
    "text_source_overlap": ORACLE_SOURCE_OVERLAP,
    "text_unigram_entropy": ORACLE_UNIGRAM_ENTROPY,
    "text_bpe_fertility_by_lang": ORACLE_BPE_FERTILITY,
    "text_distribution_drift": ORACLE_DRIFT,
    "text_boilerplate_strip": ORACLE_BOILERPLATE,
    "text_bpe_train_merges": ORACLE_BPE_MERGES,
    "text_bpe_encode": ORACLE_BPE_ENCODE,
    "text_heavy_hitters": f"""
        WITH toks AS (
          SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS term
          FROM documents
        ), c AS (
          SELECT term, COUNT(*) AS freq FROM toks GROUP BY term
        ), n AS (
          SELECT COUNT(*) AS total FROM toks
        )
        SELECT term, freq FROM c, n WHERE freq * {HH_K} >= total
    """,
    "text_tfidf_top_terms": """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
          SELECT tf.doc_id, tf.term,
                 CAST(tf.tf AS BIGINT) AS tf,
                 CAST(dfreq.df AS BIGINT) AS df,
                 ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) * 10000.0)
                   / 10000.0 AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
          FROM scored
        )
        SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 3
    """,
    "text_bigram_counts": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
          FROM documents
        ), b AS (
          SELECT unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM t WHERE len(toks) >= 2
        )
        SELECT bigram, COUNT(*) AS n
        FROM b GROUP BY bigram
        ORDER BY n DESC, bigram ASC
        LIMIT 100
    """,
    "text_repetition_score": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CASE WHEN len(tok) >= 3 THEN len(tok) - 2 ELSE 1 END AS n_total,
                 CASE WHEN len(tok) >= 3
                      THEN len(list_distinct(list_transform(range(1, len(tok) - 1),
                           i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2]))))
                      ELSE 1 END AS n_distinct
          FROM t WHERE len(tok) > 0
        )
        SELECT doc_id,
               CAST(n_total AS BIGINT) AS n_total,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               ROUND((1 - n_distinct::DOUBLE / n_total) * 1000000.0)
                 / 1000000.0 AS repetition
        FROM s
    """,
    "text_bpe_token_stats": r"""
        WITH c AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_word_tokens,
                 CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens,
                 CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_other_tokens
          FROM documents
        )
        SELECT doc_id, n_word_tokens, n_number_tokens, n_other_tokens,
               n_word_tokens + n_number_tokens + n_other_tokens AS n_bpe_tokens
        FROM c
    """,
    "text_token_stats": """
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
          FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
               ROUND((CASE WHEN len(toks) > 0
                      THEN length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len(toks)
                      ELSE 0.0 END) * 10000.0) / 10000.0 AS avg_token_len
        FROM t
    """,
    "text_lang_id": f"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, lang,
                 {_oracle_hits('en')} AS score_en,
                 {_oracle_hits('fr')} AS score_fr,
                 {_oracle_hits('es')} AS score_es,
                 {_oracle_hits('de')} AS score_de
          FROM t
        ), p AS (
          SELECT doc_id, lang,
                 CASE WHEN greatest(score_en, score_fr, score_es, score_de) = 0 THEN 'unknown'
                      WHEN score_en = greatest(score_en, score_fr, score_es, score_de) THEN 'en'
                      WHEN score_fr = greatest(score_en, score_fr, score_es, score_de) THEN 'fr'
                      WHEN score_es = greatest(score_en, score_fr, score_es, score_de) THEN 'es'
                      ELSE 'de' END AS pred_lang
          FROM s
        )
        SELECT doc_id, pred_lang, pred_lang = lang AS agrees FROM p
    """,
    "text_lang_confusion": f"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, lang,
                 {_oracle_hits('en')} AS score_en,
                 {_oracle_hits('fr')} AS score_fr,
                 {_oracle_hits('es')} AS score_es,
                 {_oracle_hits('de')} AS score_de
          FROM t
        ), p AS (
          SELECT doc_id, lang,
                 CASE WHEN greatest(score_en, score_fr, score_es, score_de) = 0 THEN 'unknown'
                      WHEN score_en = greatest(score_en, score_fr, score_es, score_de) THEN 'en'
                      WHEN score_fr = greatest(score_en, score_fr, score_es, score_de) THEN 'fr'
                      WHEN score_es = greatest(score_en, score_fr, score_es, score_de) THEN 'es'
                      ELSE 'de' END AS pred_lang
          FROM s
        )
        SELECT lang, pred_lang, COUNT(*) AS n,
               ROUND((COUNT(*)::DOUBLE
                      / SUM(COUNT(*)) OVER (PARTITION BY lang)) * 1000000.0)
                 / 1000000.0 AS share_of_true
        FROM p GROUP BY lang, pred_lang
    """,
    "text_quality_score": """
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
                 length(text)::DOUBLE AS n
          FROM documents
        ), m AS (
          SELECT doc_id,
                 len(toks)::DOUBLE AS n_tok,
                 (n - length(regexp_replace(text, '[A-Za-z ]', '', 'g'))) / (CASE WHEN n > 0 THEN n ELSE 1.0 END) AS alpha,
                 len(list_filter(toks, x -> x IN ('the','a','and','of','to')))::DOUBLE AS en_hits,
                 least(n / 500.0, 1.0) AS len_score,
                 length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE AS tok_chars
          FROM t
        ), q AS (
          SELECT doc_id, alpha, len_score,
                 CASE WHEN n_tok > 0 THEN en_hits / n_tok ELSE 0.0 END AS stop_ratio,
                 CASE WHEN n_tok > 0 AND tok_chars / n_tok BETWEEN 3 AND 8 THEN 1.0 ELSE 0.5 END AS wlen_score
          FROM m
        )
        SELECT doc_id,
               ROUND((0.25 * len_score + 0.35 * alpha + 0.2 * stop_ratio + 0.2 * wlen_score) * 10000.0) / 10000.0 AS quality,
               ROUND(stop_ratio * 10000.0) / 10000.0 AS stopword_ratio,
               ROUND(alpha * 10000.0) / 10000.0 AS alpha_ratio
        FROM q
    """,
    "text_fingerprint": f"""
        WITH chars AS (
          SELECT doc_id, text,
                 CAST(unnest(range(length(text))) AS BIGINT) + 1 AS pos
          FROM documents
        )
        SELECT doc_id,
               CAST(SUM(pos * ascii(substring(text, pos::INTEGER, 1))) % {FP_MOD} AS BIGINT) AS fingerprint
        FROM chars
        GROUP BY doc_id
    """,
}
