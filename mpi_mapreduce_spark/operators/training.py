"""Training-data pipeline operators: deterministic dataset splits,
sequence packing, and train/test contamination detection.

The reference has nothing in this category (its whole surface is
(string,int) MapReduce aggregates, SURVEY.md §1); these are [NS]
extensions in the spirit of BASELINE.json's north star — the
operations an LLM-data pipeline runs over a 100 TB corpus after
dedup/quality filtering (operators/dedup.py, operators/textops.py).

Design rules shared by all three operators:
- **Determinism is the product.** A training split must be stable
  across reruns, engines, and parallelism. Randomness comes from
  arithmetic on the row key (Knuth multiplicative hashing) — never
  rand()/sample(), whose results are partitioning-dependent.
- **Everything is native expressions** (whole-stage codegen); token
  counts and prefix sums are exact integer math, so results are
  bit-identical at any parallelism.

Scale at 100 TB:
- split assignment is a stateless per-row projection — no shuffle;
- packing shuffles once on the shard key, then one windowed prefix
  sum per shard (streaming frame, no per-group materialization);
  shards bound window-state and give packing its parallelism;
- contamination joins test shingle ROWS against the distinct train
  shingle set on the shingle key — work is linear in shingle rows,
  never pairwise in documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.functions import exact as ex
from mpi_mapreduce_spark.functions.text import tokens
from mpi_mapreduce_spark.operators.dedup import shingle_rows

#: Knuth multiplicative constant (2^32 / golden ratio) — spreads
#: sequential doc_ids uniformly over buckets, deterministically.
SPLIT_MULTIPLIER = 2_654_435_761
SPLIT_BUCKETS = 100
TRAIN_LT, VAL_LT = 80, 90  # train <80, val <90, test otherwise

#: sequence packing: token budget per packed sequence, shard fan-out
PACK_BUDGET = 2048
PACK_SHARDS = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def split_bucket(key) -> "F.Column":
    """Deterministic bucket in [0, SPLIT_BUCKETS) from an integer key.
    Pure int64 arithmetic (key * multiplier stays under 2^63 for any
    key < 3.4e9; at larger id spaces switch to xxhash64 — loses the
    DuckDB-checkable property but not determinism)."""
    k = F.col(key) if isinstance(key, str) else key
    return (k * F.lit(SPLIT_MULTIPLIER)) % F.lit(SPLIT_BUCKETS)


def with_split(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Adds `bucket` and `split` ∈ {train,val,test} columns."""
    b = split_bucket(key)
    return df.withColumn("bucket", b).withColumn(
        "split",
        F.when(F.col("bucket") < TRAIN_LT, "train")
        .when(F.col("bucket") < VAL_LT, "val")
        .otherwise("test"),
    )


def training_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level split assignment over documents — the full mapping is
    the result, so the oracle checks every single placement."""
    return with_split(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "bucket", "split"
    )


def training_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: documents are laid end-to-end
    in doc_id order within a shard and chopped into PACK_BUDGET-token
    bins; each document is assigned the bin its first token lands in.

    The prefix sum is an exact integer windowed SUM per shard — the
    shard is both the parallelism unit and the window-state bound (a
    global orderBy would serialize the corpus through one partition)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(PACK_BUDGET)).alias("bin"),
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test leakage: for every test document, how many of its
    word-3-gram shingles also occur anywhere in the train split.

    Distinct train shingles (not per-doc) keep the join linear: test
    shingle rows equi-join the train shingle set on the shingle string
    and a grouped count per test doc follows. `contaminated` uses an
    integer comparison (2·shared ≥ total), no float threshold."""
    docs = with_split(_docs(spark, sf_dir))
    srows = shingle_rows(docs)  # (doc_id, s) distinct
    splits = docs.select("doc_id", "split")
    srows = srows.join(splits, "doc_id")
    train_sh = (
        srows.where(F.col("split") == "train").select("s").distinct()
    )
    test_sh = srows.where(F.col("split") == "test").select("doc_id", "s")
    shared = (
        test_sh.join(train_sh.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
    )
    return shared.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        (F.col("n_shared") * 2 >= F.col("n_shingles")).alias("contaminated"),
    )


#: sampling: a second multiplicative constant (xxhash32 prime), so the
#: sample is statistically independent of the train/val/test split
SAMPLE_MULTIPLIER = 2_246_822_519
SAMPLE_MOD = 10_000
SAMPLE_KEEP = 500  # 5%


def training_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% Bernoulli sample — the cheap-corpus-stats /
    eval-subset primitive. `df.sample()` is partitioning-dependent and
    unreproducible across engines; arithmetic hashing on the key is
    neither. Stateless per-row filter: no shuffle, prunes at the scan
    (only doc_id/lang/n_chars read)."""
    d = _docs(spark, sf_dir)
    keep = (F.col("doc_id") * F.lit(SAMPLE_MULTIPLIER)) % F.lit(
        SAMPLE_MOD
    ) < F.lit(SAMPLE_KEEP)
    return d.where(keep).select("doc_id", "lang", "n_chars")


#: stratified rates per SAMPLE_MOD: downsample the majority language,
#: keep most of the tail — the standard corpus-rebalancing move
STRATA_KEEP = {"en": 2500, "zh": 8000, "es": 8000, "de": 8000, "fr": 8000}
STRATA_DEFAULT = 5000


def sample_stratified(
    df: DataFrame, stratum_col: str, rates: dict[str, int], default: int
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling: the keep
    threshold varies by stratum, the coin is the same key hash as
    training_sample_documents. Stateless row filter — no shuffle, no
    sampleBy() partitioning dependence."""
    coin = (F.col("doc_id") * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
    thresh = F.lit(default)
    for value, rate in rates.items():
        thresh = F.when(F.col(stratum_col) == value, rate).otherwise(thresh)
    return df.where(coin < thresh)


def training_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus by language: 25% of English, 80% of each
    tail language. Returns per-stratum audit counts (kept sizes are
    exactly reproducible at any parallelism)."""
    d = _docs(spark, sf_dir)
    kept = sample_stratified(d, "lang", STRATA_KEEP, STRATA_DEFAULT)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


#: exact-size eval-set draws: k docs per stratum
TAKE_K = 20

#: weighted draw size for the registered query
WSAMPLE_K = 100


def weighted_sample_k(
    df: DataFrame, weight_col: str, k: int, key: str = "doc_id"
) -> DataFrame:
    """Weighted sampling without replacement, deterministic: the
    Efraimidis–Spirakis scheme (each row keyed by u^(1/w), keep the
    top k) with the uniform u derived from the same multiplicative
    hash coin the other samplers use — so the draw is reproducible,
    parallelism-invariant, and inclusion probability scales with the
    weight (quality-weighted corpus draws, importance sampling).

    Keys are quantized to 9 decimals before ranking (doc_id breaks
    ties), so cross-engine libm pow() last-ulp differences can't
    reorder the boundary. Weights are floored at 1 (greatest(w, 1)):
    a zero weight would divide by zero, where Spark's non-ANSI 1.0/0
    yields NULL but DuckDB's IEEE division yields inf — divergent
    values AND ordering; the floor keeps both engines on the same
    finite key. Plan: stateless per-row key computation +
    global top-k — physicalizes as TakeOrderedAndProject (per-
    partition heaps), shuffling only k rows per partition at 100 TB."""
    u = (
        (F.col(key) * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
        + F.lit(0.5)
    ) / F.lit(float(SAMPLE_MOD))
    es_key = ex.quantize(
        F.pow(
            u,
            F.lit(1.0)
            / F.greatest(F.col(weight_col).cast("double"), F.lit(1.0)),
        ),
        9,
    )
    return (
        df.withColumn("es_key", es_key)
        .orderBy(F.col("es_key").desc(), F.col(key).asc())
        .limit(k)
    )


def training_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 docs drawn without replacement with probability scaling by
    length (n_chars as the quality weight)."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return weighted_sample_k(d, "n_chars", WSAMPLE_K)


def weighted_sample_k_per_stratum(
    df: DataFrame,
    stratum_col: str,
    weight_col: str,
    k: int,
    key: str = "doc_id",
) -> DataFrame:
    """Per-stratum weighted draw: the Efraimidis–Spirakis key ranks
    WITHIN each stratum, so every stratum yields exactly min(k, size)
    rows with inclusion probability scaling by weight inside it — the
    per-language quality-weighted draw a mixture recipe asks for.
    Same determinism/quantization/zero-weight-floor story as
    weighted_sample_k; the global top-k becomes one window per
    stratum (skew note of take_k_per_stratum_salted applies)."""
    u = (
        (F.col(key) * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
        + F.lit(0.5)
    ) / F.lit(float(SAMPLE_MOD))
    es_key = ex.quantize(
        F.pow(
            u,
            F.lit(1.0)
            / F.greatest(F.col(weight_col).cast("double"), F.lit(1.0)),
        ),
        9,
    )
    w = W.partitionBy(stratum_col).orderBy(
        es_key.desc(), F.col(key).asc()
    )
    return (
        df.withColumn("es_key", es_key)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def training_weighted_sample_per_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """20 docs per language, weighted by length."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return weighted_sample_k_per_stratum(d, "lang", "n_chars", TAKE_K)


ORACLE_WEIGHTED_PER_LANG = f"""
    SELECT doc_id, lang, n_chars, es_key FROM (
      SELECT doc_id, lang, n_chars,
             ROUND(POW(((doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} + 0.5)
                       / {SAMPLE_MOD}.0,
                   1.0 / CAST(GREATEST(n_chars, 1) AS DOUBLE)) * 1000000000.0)
               / 1000000000.0 AS es_key,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ROUND(POW(((doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} + 0.5)
                                  / {SAMPLE_MOD}.0,
                              1.0 / CAST(GREATEST(n_chars, 1) AS DOUBLE)) * 1000000000.0)
                          / 1000000000.0 DESC,
                        doc_id ASC
             ) AS rnk
      FROM documents
    ) WHERE rnk <= {TAKE_K}
"""


ORACLE_WEIGHTED_SAMPLE = f"""
    SELECT doc_id, lang, n_chars,
           ROUND(POW(((doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} + 0.5)
                     / {SAMPLE_MOD}.0,
                 1.0 / CAST(GREATEST(n_chars, 1) AS DOUBLE)) * 1000000000.0)
             / 1000000000.0 AS es_key
    FROM documents
    ORDER BY es_key DESC, doc_id ASC
    LIMIT {WSAMPLE_K}
"""


def take_k_per_stratum(
    df: DataFrame, stratum_col: str, k: int, key: str = "doc_id"
) -> DataFrame:
    """EXACTLY k rows per stratum (or all rows in smaller strata) —
    the eval/holdout-set builder where rate-based sampling
    (sample_stratified) can't hit a target size. Selection order is a
    deterministic hash of the key (same multiplicative coin as the
    samplers, key tiebreak), so the draw is reproducible at any
    parallelism AND stable under corpus growth within a stratum only
    when earlier keys keep their coin — i.e. a fixed snapshot draws a
    fixed set; this is the audit-friendly property eval sets need.

    Plan: one window (rank within stratum by coin) — shuffles on the
    stratum key; at 100 TB strata are few and fat, so skew-prone
    strata want the two-phase variant (per-partition top-k then
    global top-k merge, the TakeOrderedAndProject trick per group)."""
    coin = (F.col(key) * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
    w = W.partitionBy(stratum_col).orderBy(coin.asc(), F.col(key).asc())
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def take_k_per_stratum_salted(
    df: DataFrame,
    stratum_col: str,
    k: int,
    key: str = "doc_id",
    salt: int = 16,
) -> DataFrame:
    """Skew-safe two-phase form of take_k_per_stratum — SAME result
    (asserted in tests), different shuffle shape: phase 1 ranks within
    (stratum, key % salt) cells and keeps k per cell, so no single
    reducer ever sees a whole hot stratum — each handles ~1/salt of
    it; phase 2 ranks the ≤ k·salt survivors per stratum, a tiny
    frame. This is the per-group TakeOrderedAndProject trick: total
    shuffled rows drop from |stratum| to k·salt after phase 1.

    Equivalence argument: the final k rows of a stratum (global coin
    order) are each top-k within their own cell a fortiori, so phase 1
    never discards a final winner."""
    coin = (F.col(key) * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
    cell = F.pmod(F.col(key), F.lit(salt))
    w1 = W.partitionBy(F.col(stratum_col), cell).orderBy(
        coin.asc(), F.col(key).asc()
    )
    survivors = (
        df.withColumn("rnk", F.row_number().over(w1))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )
    return take_k_per_stratum(survivors, stratum_col, k, key)


def training_take_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k eval draw: 20 docs per language, deterministic."""
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return take_k_per_stratum(d, "lang", TAKE_K)


ORACLE_TAKE_K = f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD}, doc_id
             ) AS rnk
      FROM documents
    ) WHERE rnk <= {TAKE_K}
"""


def training_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier flagging on document length — the standard
    pre-filter that drops truncated fragments and concatenation blobs
    before training. Fences are q1−1.5·IQR / q3+1.5·IQR from EXACT
    quartiles (Spark `percentile`, linear interpolation — same
    definition as the oracle's percentile_cont).

    Scale shape: the quartile aggregate reads one long column (pruned
    scan) and reduces to ONE row, broadcast back over the corpus as a
    stateless per-row flag — no shuffle of the data itself. Exact
    percentiles hold to ~billions of distinct lengths (bounded-domain
    integer column); for unbounded domains swap in approx_percentile.
    All fence arithmetic is dyadic-rational (quartile fractions are
    .0/.25/.5/.75, 1.5·IQR multiplies by 3/2), so both engines compute
    bit-identical doubles — no quantization needed for the flag."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    q = d.agg(
        F.percentile(F.col("n_chars"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("n_chars"), F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    bounds = q.select(
        (F.col("q1") - 1.5 * iqr).alias("lo_fence"),
        (F.col("q3") + 1.5 * iqr).alias("hi_fence"),
    )
    return d.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_chars",
        "lo_fence",
        "hi_fence",
        (
            (F.col("n_chars") < F.col("lo_fence"))
            | (F.col("n_chars") > F.col("hi_fence"))
        ).alias("is_outlier"),
    )


#: per-source quota: max docs any single source may contribute — the
#: crawl-curation guard against one domain dominating the corpus
DOMAIN_QUOTA = 15


def quota_per_stratum(
    df: DataFrame, stratum_col: str, quota: int, key: str = "doc_id"
) -> DataFrame:
    """Deterministic per-stratum quota capping: within each stratum,
    rank rows by the multiplicative hash coin (key tiebreak) and keep
    rank ≤ quota — an unbiased uniform subsample of over-represented
    strata, reproducible at any parallelism. Returns the full mapping
    (every row + its rank + keep flag) so the decision is auditable.

    Plan: one window shuffle partitioned by the stratum; strata are
    domains/sources (many, shallow), so no single-partition sort
    exists and the skew note of take_k_per_stratum_salted applies if
    one source dominates row counts."""
    coin = (F.col(key) * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
    w = W.partitionBy(stratum_col).orderBy(coin.asc(), F.col(key).asc())
    return df.withColumn(
        "src_rank", F.row_number().over(w).cast("long")
    ).withColumn("keep", F.col("src_rank") <= quota)


def training_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at DOMAIN_QUOTA documents (full keep/drop
    mapping over the corpus)."""
    d = _docs(spark, sf_dir).select("doc_id", "source")
    return quota_per_stratum(d, "source", DOMAIN_QUOTA)


#: curation pipeline: quality cutoff (corpus scores span ~0.57-0.83)
CURATE_QUALITY_MIN = 0.65


def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition — a complete corpus-curation pipeline
    as ONE lazy DataFrame DAG: quality filter → exact dedup (keep
    first) → deterministic split → per-split sequence packing →
    per-split summary. This is the end-to-end shape an LLM data job
    actually runs; every stage is one of this package's operators, and
    because nothing materializes in between, Catalyst plans the whole
    chain (column pruning reaches back from the final aggregate into
    the quality join).

    Packing partitions by (split, shard): bins never span splits, and
    the window state stays bounded per shard exactly as in
    training_pack_sequences.

    Composition shape (r13): the quality score is a pure per-row
    projection, so it is computed INLINE on the scan row instead of
    joined back on doc_id (the join shuffled the corpus twice for a
    stateless flag), and the keep-first exact dedup is the grouped
    min-struct collapse of dedup.exact_canonical_docs (map-side
    combine collapses replicas before the exchange) rather than a
    window over raw text. Same kept set, same canonical docs, same
    summary."""
    from mpi_mapreduce_spark.operators.dedup import exact_canonical_docs
    from mpi_mapreduce_spark.operators.textops import quality_score_frame

    docs = _docs(spark, sf_dir)
    kept = (
        quality_score_frame(docs, passthrough=["text"])
        .where(F.col("quality") >= CURATE_QUALITY_MIN)
        .select("doc_id", "text")
    )
    deduped = exact_canonical_docs(kept)
    t = with_split(deduped).select(
        "doc_id",
        "split",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    pw = W.partitionBy("split", "shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(pw)
    packed = t.withColumn(
        "bin", F.floor((cum - F.col("n_tokens")) / F.lit(PACK_BUDGET))
    )
    return packed.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
        F.countDistinct("shard", "bin").alias("n_bins"),
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def training_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each event's value to its event_type's
    [p05, p95] band — the outlier treatment that keeps rows (unlike
    training_outlier_iqr, which drops them), standard before fitting
    scale-sensitive models.

    Two-pass plan: one small aggregate computes per-group exact
    percentile boundaries (5 groups), broadcast back onto the fact
    rows for a map-side LEAST(GREATEST(...)) clip — the fact table
    never shuffles. Boundary doubles interpolate identically in both
    engines (same 1-based linear interpolation as
    percentile_order_prices); clipped outputs are either the original
    value or a boundary, both bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("value", F.lit(WINSOR_HI)).alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
            .alias("value_winsorized"),
        )
    )


CHUNK_LEN = 200  #: characters per chunk
CHUNK_OVERLAP = 40  #: trailing chars repeated at the next chunk's head
_STRIDE = CHUNK_LEN - CHUNK_OVERLAP


def training_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split long documents into fixed-size overlapping chunks — the
    context-window prep step dual to training_pack_sequences (packing
    concatenates short docs; this slices long ones). Overlap keeps
    boundary-spanning text learnable/retrievable.

    Chunk k covers [1 + k·stride, …+CHUNK_LEN); the last chunk index
    is ceil((n−CHUNK_LEN)/stride) (0 for docs that fit). All integer
    arithmetic plus substring — one explode over a computed sequence,
    no shuffle at all: the operator is embarrassingly parallel and
    output size is input·(1+overlap/stride), independent of
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.col("n_chars")
    last = F.when(
        n > CHUNK_LEN,
        F.expr(f"(n_chars - {CHUNK_LEN} + {_STRIDE} - 1) div {_STRIDE}"),
    ).otherwise(F.lit(0))
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), last)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.expr(
                f"substring(text, 1 + chunk_id * {_STRIDE}, {CHUNK_LEN})"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


#: target corpus mixture by language, integer percents summing to 100
MIXTURE_WEIGHTS = {"en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15}


def training_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language reweighting: downsample groups so the kept
    corpus matches MIXTURE_WEIGHTS as closely as integer counts allow,
    never upsampling — the data-mixing step of LLM corpus recipes
    (e.g. fixed web/books/code proportions).

    Exact-count math, all integers: the feasible total is
    T = min_g(n_g·100 // w_g) (the binding group is kept whole);
    each group keeps k_g = w_g·T // 100 docs, chosen by a
    deterministic hash-coin ranking (same multiplier as
    training_sample_documents) so the selection is reproducible at
    any parallelism. Exactness needs a per-group row_number — one
    window shuffle on the group key; at 100 TB with a dominant group,
    switch the big groups to the threshold (binomial) form and keep
    exact ranking for the small ones."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    weights = spark.createDataFrame(
        list(MIXTURE_WEIGHTS.items()), "lang string, wt long"
    )
    caps = (
        docs.groupBy("lang")
        .count()
        .join(F.broadcast(weights), "lang")
        .select("lang", "wt", F.expr("count * 100 div wt").alias("t_g"))
    )
    total = caps.agg(F.min("t_g").alias("t"))
    k = caps.crossJoin(F.broadcast(total)).select(
        "lang", F.expr("wt * t div 100").alias("k_g")
    )
    coin = (F.col("doc_id") * F.lit(SAMPLE_MULTIPLIER)) % F.lit(SAMPLE_MOD)
    w = W.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(k), "lang")
        .where(F.col("rn") <= F.col("k_g"))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle + sharding (training-order writer)
# ---------------------------------------------------------------------------

#: epochs materialized by the registered query; production would pass
#: the epoch number in
EPOCH_COUNT = 2
#: output shards per epoch — at 100 TB this is the output-file fan-out
#: (tens of thousands), here small so every shard's ordering is dense
EPOCH_SHARDS = 8
#: decorrelates consecutive epochs' orders (any odd constant works;
#: distinct from SPLIT_/SAMPLE_MULTIPLIER so epoch order is
#: independent of split and sample coins)
EPOCH_STEP = 1_000_003
#: coin modulus — 2^31-1 (Mersenne prime): enough resolution that ties
#: are rare (SAMPLE_MOD's 10k buckets are fine for rate coins but
#: would collapse a shuffle ORDER into ties broken by doc_id)
EPOCH_MOD = 2_147_483_647


def epoch_shard_order(
    df: DataFrame,
    key: str = "doc_id",
    epochs: int = EPOCH_COUNT,
    shards: int = EPOCH_SHARDS,
) -> DataFrame:
    """(epoch, key, shard, pos): a deterministic global shuffle of the
    corpus per training epoch, materialized as shard assignment plus
    position within the shard — the write order a dataloader consumes.

    Every epoch permutes differently (coin mixes the epoch), yet the
    whole mapping is pure key arithmetic: reproducible across reruns,
    engines, and any partitioning, with no rand() and no global sort —
    ordering is a row_number per (epoch, shard), so parallelism =
    epochs x shards and window state is bounded by the largest shard.
    Coin stays in int64: (key + 1 + epoch·step) · multiplier < 2^63
    for keys < ~1e9 (same documented bound as split_bucket; beyond
    that, xxhash64 — losing only the DuckDB-checkable property)."""
    k = F.col(key)
    epoch = F.explode(
        F.array(*[F.lit(e) for e in range(epochs)])
    ).alias("epoch")
    e = df.select(k.alias(key), epoch)
    coin = (
        (k + 1 + F.col("epoch") * F.lit(EPOCH_STEP))
        * F.lit(SAMPLE_MULTIPLIER)
    ) % F.lit(EPOCH_MOD)
    w = W.partitionBy("epoch", "shard").orderBy("coin", key)
    return (
        e.select("epoch", key, coin.alias("coin"))
        .withColumn("shard", F.col("coin") % F.lit(shards))
        .select(
            "epoch",
            key,
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


def training_epoch_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered 2-epoch shuffle/shard order over documents."""
    return epoch_shard_order(_docs(spark, sf_dir))


ORACLE_EPOCH_SHARD = f"""
    WITH e AS (
      SELECT doc_id, unnest([{", ".join(str(e) for e in range(EPOCH_COUNT))}]) AS epoch
      FROM documents
    ), c AS (
      SELECT doc_id, epoch,
             ((doc_id + 1 + epoch * {EPOCH_STEP}) * {SAMPLE_MULTIPLIER})
               % {EPOCH_MOD} AS coin
      FROM e
    )
    SELECT CAST(epoch AS INTEGER) AS epoch, doc_id,
           coin % {EPOCH_SHARDS} AS shard,
           ROW_NUMBER() OVER (PARTITION BY epoch, coin % {EPOCH_SHARDS}
                              ORDER BY coin, doc_id) AS pos
    FROM c
"""


# ---------------------------------------------------------------------------
# Near-dup-cluster-safe split
# ---------------------------------------------------------------------------

def training_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on the near-dup CLUSTER, not
    the document: every member of an ngram-Jaccard component lands on
    the same side, so a near-duplicate of a training document can
    never leak into test (the contamination channel a doc-keyed split
    leaves open, and one n-gram contamination checks only catch after
    the fact). Singletons hash by their own id — identical placement
    to with_split for the non-duplicated bulk of the corpus.

    Composition: pair query → iterative CC → coalesce(component,
    doc_id) → the SAME split arithmetic as training_split_assign, fed
    the component id. Output keeps both ids so the oracle verifies
    every member-to-side mapping."""
    from mpi_mapreduce_spark.operators.dedup import (
        connected_components,
        dedup_ngram_jaccard,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    comp = connected_components(
        dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    )
    labeled = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("component")
    )
    return with_split(labeled, key="component").select(
        "doc_id", "component", "bucket", "split"
    )


def _cluster_safe_oracle() -> str:
    from mpi_mapreduce_spark.operators.dedup import ORACLE_NGRAM_JACCARD

    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({ORACLE_NGRAM_JACCARD})
    ), sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ), comp AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    ), labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component,
           (component * {SPLIT_MULTIPLIER}) % {SPLIT_BUCKETS} AS bucket,
           CASE WHEN (component * {SPLIT_MULTIPLIER}) % {SPLIT_BUCKETS}
                     < {TRAIN_LT} THEN 'train'
                WHEN (component * {SPLIT_MULTIPLIER}) % {SPLIT_BUCKETS}
                     < {VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM labeled
    """


# ---------------------------------------------------------------------------
# Token-shard export (the trainer-facing binary artifact)
# ---------------------------------------------------------------------------

SHARD_COUNT = 8
EOS_ID = 0  #: document separator in the token stream
#: polynomial word hash modulus (Mersenne 2^31-1, shared with the
#: fingerprint op) — ids are 1..FP_MOD so EOS_ID=0 never collides
from mpi_mapreduce_spark.functions.text import FP_MOD  # noqa: E402


def token_id_stream(docs: DataFrame, shards: int = SHARD_COUNT) -> DataFrame:
    """(shard, doc_id, p, wid): every document as a token-id sequence
    with an EOS separator appended, sharded by doc_id.

    Word ids come from an order-sensitive polynomial hash
    (Σ (i+1)·codepoint(ch_i) mod 2^31−1, then +1 so EOS keeps id 0) —
    pure integer arithmetic both engines reproduce exactly, computed
    once per DISTINCT word and joined back (vocabulary-sized work,
    like the BPE trainer). ASCII-identical across engines; exotic
    codepoints would need a shared byte-level definition."""
    from mpi_mapreduce_spark.operators.dedup import token_rows

    toks = token_rows(docs)
    vocab = toks.select(F.col("tok").alias("w")).distinct()
    chars = vocab.select(
        "w", F.posexplode(F.split("w", "")).alias("i", "ch")
    ).where(F.col("ch") != "")
    ids = chars.groupBy("w").agg(
        (
            F.sum((F.col("i") + 1).cast("long") * F.ascii("ch").cast("long"))
            % F.lit(FP_MOD)
            + 1
        ).alias("wid")
    )
    body = toks.join(ids, toks.tok == ids.w).select("doc_id", "p", "wid")
    eos = toks.groupBy("doc_id").agg(
        (F.max("p") + 1).alias("p")
    ).select("doc_id", "p", F.lit(EOS_ID).cast("long").alias("wid"))
    return body.unionByName(eos).select(
        (F.col("doc_id") % shards).alias("shard"), "doc_id", "p", "wid"
    )


def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-level manifest of the token-id export: doc count, token
    count (EOS excluded) and an order-sensitive checksum
    (Σ rank·wid mod 2^31−1 over the shard's stream order) — the
    receipt that pins the exact byte stream write_token_shards emits,
    hash-compared against the oracle's independent derivation. One
    vocab join + one partitioned window per shard; no global sort."""
    stream = token_id_stream(_docs(spark, sf_dir))
    w = W.partitionBy("shard").orderBy("doc_id", "p")
    r = stream.withColumn("rn", F.row_number().over(w).cast("long"))
    return r.groupBy("shard").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.when(F.col("wid") != EOS_ID, 1).otherwise(0)).alias(
            "n_tokens"
        ),
        (
            F.sum((F.col("rn") * F.col("wid")) % F.lit(FP_MOD)) % F.lit(FP_MOD)
        ).alias("checksum"),
    )


def write_token_shards(
    docs: DataFrame, out_dir: str, shards: int = SHARD_COUNT
) -> tuple[DataFrame, DataFrame]:
    """Materialize the token-id stream as the binary artifact a
    trainer mmaps: one ``shard_{k}.bin`` of little-endian uint32 ids
    per shard (EOS separators included), written executor-side via
    temp-file + atomic rename (deterministic content ⇒ idempotent
    re-write). Returns ``(manifest, index)``: the per-shard write
    manifest (shard, n_ids, n_bytes) and the doc-boundary INDEX frame
    (doc_id, shard, offset, n_tokens) for random access. Both are
    LAZY — the shard files are (re)written each time the manifest
    frame is evaluated (idempotent by the atomic-rename discipline,
    but callers should materialize it exactly once).

    The per-shard write is one applyInPandas task — the shard is the
    parallelism unit exactly as in training_pack_sequences; at real
    scale shard count is set so a shard fits a task comfortably."""
    import os

    stream = token_id_stream(docs, shards)
    w = W.partitionBy("shard").orderBy("doc_id", "p")
    r = stream.withColumn("rn", F.row_number().over(w).cast("long"))

    os.makedirs(out_dir, exist_ok=True)

    def dump(key, pdf):
        import numpy as np
        import pandas as pd

        (shard,) = key
        pdf = pdf.sort_values(["doc_id", "p"])
        ids = pdf["wid"].to_numpy().astype("<u4")
        tmp = os.path.join(out_dir, f".shard_{shard}.bin.tmp")
        with open(tmp, "wb") as f:
            f.write(ids.tobytes())
        os.replace(tmp, os.path.join(out_dir, f"shard_{shard}.bin"))
        return pd.DataFrame(
            {
                "shard": [int(shard)],
                "n_ids": [len(ids)],
                "n_bytes": [len(ids) * 4],
            }
        )

    manifest = r.groupBy("shard").applyInPandas(
        dump, "shard long, n_ids long, n_bytes long"
    )
    index = r.groupBy("doc_id", "shard").agg(
        (F.min("rn") - 1).alias("offset"),
        (F.count("*") - 1).alias("n_tokens"),  # EOS excluded
    )
    return manifest, index


ORACLE_SHARD_MANIFEST = f"""
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), tokpos AS (
      SELECT doc_id, unnest(range(len(tok))) AS p, unnest(tok) AS w
      FROM toks0 WHERE len(tok) > 0
    ), ids AS (
      SELECT w,
             CAST(list_sum(list_transform(range(len(w)),
                  i -> (i + 1) * ascii(w[i+1]))) % {FP_MOD} + 1 AS BIGINT)
               AS wid
      FROM (SELECT DISTINCT w FROM tokpos)
    ), stream AS (
      SELECT t.doc_id, t.p, i.wid FROM tokpos t JOIN ids i USING (w)
      UNION ALL
      SELECT doc_id, MAX(p) + 1, {EOS_ID} FROM tokpos GROUP BY doc_id
    ), rn AS (
      SELECT doc_id % {SHARD_COUNT} AS shard, doc_id, wid,
             ROW_NUMBER() OVER (PARTITION BY doc_id % {SHARD_COUNT}
                                ORDER BY doc_id, p) AS rn
      FROM stream
    )
    SELECT shard,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN wid <> {EOS_ID} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tokens,
           CAST(CAST(SUM((rn * wid) % {FP_MOD}) AS BIGINT) % {FP_MOD}
                AS BIGINT) AS checksum
    FROM rn GROUP BY shard
"""


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (hashed n-gram importance weights)
# ---------------------------------------------------------------------------

#: hashed feature buckets — DSIR (Xie et al. 2023, "Data Selection
#: for Language Models via Importance Resampling") uses 10k hashed
#: n-gram buckets at web scale; 64 keeps the fixture's per-bucket
#: counts dense enough to be meaningful at sf0.01
DSIR_BUCKETS = 64
#: the target distribution: docs from this source play the role of
#: DSIR's high-quality target corpus (e.g. Wikipedia); everything
#: else is the raw pool being scored
DSIR_TARGET_SOURCE = "src0"
#: how many raw docs the resampler keeps
DSIR_TOPK = 100


def hashed_bucket_rows(
    docs: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(doc_id, source, bucket): one row per token occurrence with its
    hashed feature bucket — the shared featurization under DSIR and
    the logistic-regression quality classifier. The bucket of each
    DISTINCT word comes from the engine's cross-engine polynomial
    char hash mod ``n_buckets`` (vocabulary-sized work, joined back;
    the corpus itself is scanned once).

    Token occurrences come straight off the scan (explode of the
    split, ``source`` carried through the projection) — featurization
    is position-free, so the positional token_rows shape it previously
    reused paid a per-doc window shuffle plus a doc_id join just to
    re-attach ``source``, both of which this plan simply doesn't
    have."""
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = toks.select(F.col("tok").alias("w")).distinct()
    chars = vocab.select(
        "w", F.posexplode(F.split("w", "")).alias("i", "ch")
    ).where(F.col("ch") != "")
    buckets = chars.groupBy("w").agg(
        (
            (
                F.sum(
                    (F.col("i") + 1).cast("long")
                    * F.ascii("ch").cast("long")
                )
                % F.lit(FP_MOD)
                + 1
            )
            % n_buckets
        ).alias("bucket")
    )
    return toks.join(buckets, toks.tok == buckets.w).select(
        "doc_id", "source", "bucket"
    )


def dsir_logweights(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, dsir_logweight): per-document log importance weight
    log p_target(doc)/p_raw(doc) under hashed-unigram bag-of-words
    models with add-one smoothing — the DSIR scoring rule that selects
    raw web data resembling a trusted target corpus.

    Plan (all linear; the model is a 64-row broadcast):
    - token rows once (one window pass, shared shape with
      token_id_stream);
    - the bucket of each DISTINCT word via the engine's cross-engine
      polynomial char hash mod ``n_buckets`` (vocabulary-sized work,
      joined back — the corpus is never re-scanned per feature);
    - bucket unigram counts for target (source filter) and raw (all
      docs) — two grouped counts with map-side combine, ``n_buckets``
      result rows;
    - per-bucket smoothed log ratio, quantized (scale 6), broadcast
      back onto token rows; per-doc order-independent quantized sum.

    At 100 TB nothing here exceeds one linear pass plus a
    vocabulary-sized join: exactly the property that makes DSIR the
    scalable alternative to model-based quality scoring."""
    # collapse token occurrences to the compact (doc, source, bucket,
    # cnt) feature frame FIRST (map-side combine shrinks the shuffle
    # to ≤ n_buckets rows per doc) and materialize it once; the model
    # statistics and the per-doc scoring pass all derive from it —
    # the corpus is tokenized exactly once
    counts = (
        hashed_bucket_rows(docs, n_buckets)
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    raw_counts = counts.groupBy("bucket").agg(F.sum("cnt").alias("cr"))
    tgt_counts = (
        counts.where(F.col("source") == target_source)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("ct"))
    )
    # totals fold the (≤ n_buckets)-row count frames, not the corpus
    raw_total = raw_counts.agg(F.sum("cr").alias("rr"))
    tgt_total = tgt_counts.agg(F.sum("ct").alias("tt"))
    model = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "bucket",
            ex.quantize(
                F.log(
                    (
                        (F.coalesce("ct", F.lit(0)) + F.lit(1.0))
                        / (F.col("tt") + F.lit(float(n_buckets)))
                    )
                    / (
                        (F.col("cr") + F.lit(1.0))
                        / (F.col("rr") + F.lit(float(n_buckets)))
                    )
                ),
                6,
            ).alias("logratio"),
        )
    )
    # per-token quantized contributions sum to cnt · round(logratio·1e6)
    # exactly (cnt is integral), so scoring over the compact frame is
    # bit-identical to scoring over token rows
    contrib = ex.quantize(F.col("cnt") * F.col("logratio"), 6)
    return (
        counts.join(F.broadcast(model), "bucket")
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(ex.quantized_sum("c", 6).alias("dsir_logweight"))
    )


def training_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered DSIR selection: the ``DSIR_TOPK`` raw documents
    whose hashed-unigram importance weight is highest — physicalized
    as TakeOrderedAndProject (per-partition heaps, no global sort),
    ties broken on doc_id so the boundary is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    w = dsir_logweights(docs)
    return w.orderBy(
        F.desc("dsir_logweight"), F.asc("doc_id")
    ).limit(DSIR_TOPK)


_DSIR_HASH = (
    "list_sum(list_transform(range(len(w)), i -> (i + 1) * ascii(w[i+1])))"
    f" % {FP_MOD} + 1"
)

ORACLE_DSIR = f"""
    WITH toks0 AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), tokpos AS (
      SELECT doc_id, source, unnest(tok) AS w
      FROM toks0 WHERE len(tok) > 0
    ), buckets AS (
      SELECT w, CAST(({_DSIR_HASH}) % {DSIR_BUCKETS} AS BIGINT) AS bucket
      FROM (SELECT DISTINCT w FROM tokpos)
    ), tb AS (
      SELECT t.doc_id, t.source, b.bucket
      FROM tokpos t JOIN buckets b USING (w)
    ), counts AS (
      SELECT doc_id, source, bucket, count(*) AS cnt
      FROM tb GROUP BY doc_id, source, bucket
    ), raw_counts AS (
      SELECT bucket, SUM(cnt) AS cr FROM counts GROUP BY bucket
    ), tgt_counts AS (
      SELECT bucket, SUM(cnt) AS ct FROM counts
      WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket
    ), totals AS (
      SELECT (SELECT SUM(cr) FROM raw_counts) AS rr,
             (SELECT SUM(ct) FROM tgt_counts) AS tt
    ), model AS (
      SELECT r.bucket,
             {ex.sql_quantize(
                 f"ln(((COALESCE(t.ct, 0) + 1.0) / (totals.tt + {float(DSIR_BUCKETS)}))"
                 f" / ((r.cr + 1.0) / (totals.rr + {float(DSIR_BUCKETS)})))",
                 6,
             )} AS logratio
      FROM raw_counts r
      LEFT JOIN tgt_counts t USING (bucket)
      CROSS JOIN totals
    ), per AS (
      SELECT counts.doc_id,
             {ex.sql_sum(ex.sql_quantize('counts.cnt * m.logratio', 6), 6)}
               AS dsir_logweight
      FROM counts JOIN model m USING (bucket)
      GROUP BY counts.doc_id
    )
    SELECT doc_id, dsir_logweight FROM per
    ORDER BY dsir_logweight DESC, doc_id ASC
    LIMIT {DSIR_TOPK}
"""


# ---------------------------------------------------------------------------
# Model-based quality classifier (distributed logistic regression)
# ---------------------------------------------------------------------------

#: full-batch gradient-descent rounds (weight updates); kept small so
#: the oracle can unroll the training loop CTE-for-CTE. The in-plan
#: loop references the weight frame about 5× per round, so the plan
#: grows geometrically in the rounds since ``w`` was last materialized;
#: a caller raising this pays one localCheckpoint job per 2 rounds
#: (the depth guard bpe_merge_list applies every 32), which keeps the
#: final plan no larger than the default's
QL_ROUNDS = 2


def quality_logreg_scores(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    n_buckets: int = DSIR_BUCKETS,
    rounds: int = QL_ROUNDS,
) -> DataFrame:
    """(doc_id, logit, prob, keep): a fasttext-style model-based
    quality filter — binary logistic regression on hashed-unigram
    counts, weakly labeled "does this doc come from the trusted
    source", trained with ``rounds`` full-batch gradient steps and
    then scored over the whole corpus. The model-based counterpart to
    DSIR's closed-form likelihood ratio (same feature space, shared
    :func:`hashed_bucket_rows`).

    Distributed-training shape (r14): the GD loop is UNROLLED INTO
    THE PLAN — the model lives in a (bucket, wgt) frame (bias under
    sentinel bucket -1, the r13 fused-gradient convention), each
    round's weight update is a left join of the gradient aggregate
    back onto the weight frame, and the corpus size rides a 1-row
    aggregate — so the whole train-plus-score query is ONE action
    with zero driver round-trips (the r13 shape paid a
    localCheckpoint job, a count() job, and one collect per round at
    CONSTRUCTION time: 25 driver jobs / 3.85 s of the query's 3.99 s
    at sf0.1; this shape benches 3.46 → 1.82 s min-of-3, bit-equal
    output, /tmp/ab_logreg.py). Round 1 exploits w₀ = 0: every logit
    is exactly 0.0, so err₁ = 0.5 - y without touching counts
    (quantize(σ(0)) = 0.5 bit-for-bit). Every 2nd round but the
    last, the weight frame is localCheckpoint'ed, so a large
    ``rounds`` costs one eager job per checkpoint instead of a plan
    5× larger per round. The feature matrix is persisted (five
    consumers across the rounds); the deployable frozen-model path
    (:func:`logreg_model`) keeps the driver-side collect loop — a
    bounded model fetch is its entire purpose.

    Cache lifetime: the persisted feature matrix lives until session
    end (the returned frame is lazy, so this function cannot
    unpersist it) — acceptable for the one-invocation driver jobs
    this registers, and re-invoking on the same docs re-persists the
    SAME analyzed plan, which the CacheManager dedupes; a long-lived
    session scoring MANY different doc frames should clear the cache
    between them or spill the features to a real table.

    Exactness discipline (what makes 2 training rounds hash-match a
    DuckDB oracle bit for bit): every per-row contribution is
    quantized (scale 6) before its order-independent quantized_sum;
    probabilities come from exp() on identical quantized logits; the
    learning rate is exactly 1 so weight updates are single IEEE
    subtractions of already-quantized values — the in-plan double
    arithmetic (negate/subtract, never re-round) is the same IEEE op
    sequence the r13 driver-side Python performed (equivalence pinned
    in tests/test_r14_optimizations.py)."""
    spark = docs.sparkSession
    tb = hashed_bucket_rows(docs, n_buckets)
    counts = (
        tb.groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    y = docs.select(
        "doc_id",
        F.when(F.col("source") == target_source, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    nn = docs.agg(F.count("*").cast("double").alias("n"))

    def logits_frame(w: DataFrame) -> DataFrame:
        contrib = ex.quantize(F.col("cnt") * F.col("wgt"), 6)
        s = (
            counts.join(
                F.broadcast(w.where(F.col("bucket") >= 0)), "bucket"
            )
            .select("doc_id", contrib.alias("c"))
            .groupBy("doc_id")
            .agg(ex.quantized_sum("c", 6).alias("s"))
        )
        bias = F.broadcast(
            w.where(F.col("bucket") == -1).select(
                F.col("wgt").alias("bias")
            )
        )
        return (
            y.join(s, "doc_id", "left")
            .crossJoin(bias)
            .select(
                "doc_id",
                "y",
                (F.coalesce("s", F.lit(0.0)) + F.col("bias")).alias(
                    "logit"
                ),
            )
        )

    def grad_frame(err: DataFrame) -> DataFrame:
        return (
            counts.join(err, "doc_id")
            .select(
                "bucket",
                ex.quantize(F.col("cnt") * F.col("err"), 6).alias("c"),
            )
            .unionByName(
                err.select(
                    F.lit(-1).cast("long").alias("bucket"),
                    F.col("err").alias("c"),
                )
            )
            .groupBy("bucket")
            .agg(ex.quantized_sum("c", 6).alias("cs"))
            .crossJoin(F.broadcast(nn))
            .select(
                "bucket",
                ex.quantize(
                    ex.quantize(F.col("cs"), 6) / F.col("n"), 6
                ).alias("g"),
            )
        )

    w = spark.range(-1, n_buckets).select(
        F.col("id").alias("bucket"), F.lit(0.0).alias("wgt")
    )
    for r in range(1, rounds + 1):
        if r == 1:
            err = y.select(
                "doc_id", (F.lit(0.5) - F.col("y")).alias("err")
            )
        else:
            err = logits_frame(w).select(
                "doc_id",
                (
                    ex.quantize(
                        F.lit(1.0)
                        / (F.lit(1.0) + F.exp(-F.col("logit"))),
                        6,
                    )
                    - F.col("y")
                ).alias("err"),
            )
        g = grad_frame(err)
        w = w.join(g, "bucket", "left").select(
            "bucket",
            (F.col("wgt") - F.coalesce("g", F.lit(0.0))).alias("wgt"),
        )
        if r % 2 == 0 and r < rounds:
            w = w.localCheckpoint()
    final = logits_frame(w)
    logit_q = ex.quantize(F.col("logit"), 6)
    return final.select(
        "doc_id",
        logit_q.alias("logit"),
        ex.quantize(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-logit_q)), 6
        ).alias("prob"),
        (logit_q > 0).alias("keep"),
    )


def _logreg_logits(
    counts: DataFrame, y: DataFrame, weights: dict[int, float], bias: float
) -> DataFrame:
    """(doc_id[, y], logit) under the given model — the shared scoring
    expression for fit rounds and frozen-model application."""
    spark = counts.sparkSession
    wrows = spark.createDataFrame(
        [(b, w) for b, w in sorted(weights.items())],
        "bucket long, wgt double",
    )
    contrib = ex.quantize(F.col("cnt") * F.col("wgt"), 6)
    s = (
        counts.join(F.broadcast(wrows), "bucket")
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(ex.quantized_sum("c", 6).alias("s"))
    )
    return y.join(s, "doc_id", "left").select(
        "doc_id",
        *[c for c in y.columns if c != "doc_id"],
        (F.coalesce("s", F.lit(0.0)) + F.lit(bias)).alias("logit"),
    )


def logreg_model(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    n_buckets: int = DSIR_BUCKETS,
    rounds: int = QL_ROUNDS,
) -> tuple[dict[int, float], float]:
    """Train on ``docs`` and return the FROZEN model ``(weights,
    bias)`` — n_buckets + 1 doubles, the deployable artifact the
    streaming quality gate broadcasts into every micro-batch
    (streaming/quality_gate.py)."""
    weights, bias, _, _ = _logreg_fit(docs, target_source, n_buckets, rounds)
    return weights, bias


def logreg_score(
    docs: DataFrame,
    weights: dict[int, float],
    bias: float,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Score ANY (doc_id, text, source) frame under a frozen model:
    (doc_id, logit, prob, keep) with the exact arithmetic of
    quality_logreg_scores' final pass — batch/stream scoring parity is
    pinned in tests/test_streaming.py."""
    counts = (
        hashed_bucket_rows(docs, n_buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    ids = docs.select("doc_id")
    final = _logreg_logits(counts, ids, weights, bias)
    logit_q = ex.quantize(F.col("logit"), 6)
    return final.select(
        "doc_id",
        logit_q.alias("logit"),
        ex.quantize(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-logit_q)), 6
        ).alias("prob"),
        (logit_q > 0).alias("keep"),
    )


def _logreg_fit(
    docs: DataFrame,
    target_source: str,
    n_buckets: int,
    rounds: int,
) -> tuple[dict[int, float], float, DataFrame, DataFrame]:
    """The gradient loop of :func:`quality_logreg_scores`; returns
    (weights, bias, counts, y) so the caller can reuse the
    checkpointed feature matrix for its final pass."""
    tb = hashed_bucket_rows(docs, n_buckets)
    # the feature matrix is referenced 2×/round + once for final
    # scoring — materialize it once (executor-local, same pattern as
    # the BPE vocab frame) instead of re-tokenizing the corpus five
    # times; measured 113.7 s → cut roughly in half at 100× docs
    counts = (
        tb.groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    y = docs.select(
        "doc_id",
        F.when(F.col("source") == target_source, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    n_docs = float(docs.count())

    weights = {b: 0.0 for b in range(n_buckets)}
    bias = 0.0

    for _ in range(rounds):
        lg = _logreg_logits(counts, y, weights, bias)
        err = lg.select(
            "doc_id",
            (
                ex.quantize(
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 6
                )
                - F.col("y")
            ).alias("err"),
        )
        # ONE driver round-trip per GD round: the bias gradient rides
        # the same grouped aggregate as the weight gradients under the
        # sentinel bucket -1 (a unionByName of per-row contributions —
        # err rows count 1 each, exactly the old separate err agg), so
        # the round costs one job instead of two and err's upstream
        # aggregate is shared via exchange reuse instead of recomputed.
        # Same quantized sums -> bit-identical model.
        g = (
            counts.join(err, "doc_id")
            .select(
                "bucket",
                ex.quantize(F.col("cnt") * F.col("err"), 6).alias("c"),
            )
            .unionByName(
                err.select(
                    F.lit(-1).cast("long").alias("bucket"),
                    F.col("err").alias("c"),
                )
            )
            .groupBy("bucket")
            .agg(
                ex.quantize(
                    ex.quantized_sum("c", 6) / F.lit(n_docs), 6
                ).alias("g")
            )
        )
        rows = g.collect()
        grads = {r.bucket: r.g for r in rows if r.bucket >= 0}
        bg = next((r.g for r in rows if r.bucket == -1), 0.0)
        # learning rate 1: plain subtraction of quantized values —
        # bit-reproducible, never re-rounded driver-side
        for b in range(n_buckets):
            weights[b] = weights[b] - grads.get(b, 0.0)
        bias = bias - bg

    return weights, bias, counts, y


def training_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`quality_logreg_scores` over documents."""
    return quality_logreg_scores(load_table(spark, sf_dir, "documents"))


def _logreg_oracle(rounds: int = QL_ROUNDS) -> str:
    """Unrolled CTE mirror of quality_logreg_scores: one (g{r}, w{r},
    b{r}) block per gradient round, then final scoring — the same
    loop-unrolling discipline as the BPE and k-means oracles."""
    q = ex.sql_quantize
    hash_expr = (
        "list_sum(list_transform(range(len(w)), i -> (i + 1) * ascii(w[i+1])))"
        f" % {FP_MOD} + 1"
    )
    head = f"""
    WITH toks0 AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tok
      FROM documents
    ), tokpos AS (
      SELECT doc_id, source, unnest(tok) AS w
      FROM toks0 WHERE len(tok) > 0
    ), buckets AS (
      SELECT w, CAST(({hash_expr}) % {DSIR_BUCKETS} AS BIGINT) AS bucket
      FROM (SELECT DISTINCT w FROM tokpos)
    ), tb AS (
      SELECT t.doc_id, b.bucket
      FROM tokpos t JOIN buckets b USING (w)
    ), counts AS (
      SELECT doc_id, bucket, count(*) AS cnt FROM tb GROUP BY doc_id, bucket
    ), y AS (
      SELECT doc_id,
             CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                  THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
    ), w0 AS (
      SELECT CAST(unnest(range({DSIR_BUCKETS})) AS BIGINT) AS bucket,
             0.0 AS wgt
    ), b0 AS (SELECT 0.0 AS bias)
    """
    blocks = []
    for r in range(rounds):
        p, c = r, r + 1  # previous / current round suffix
        blocks.append(f"""
    , s{c} AS (
      SELECT counts.doc_id, {ex.sql_sum(q('counts.cnt * w.wgt', 6), 6)} AS s
      FROM counts JOIN w{p} w USING (bucket)
      GROUP BY counts.doc_id
    ), lg{c} AS (
      SELECT y.doc_id, y.y,
             COALESCE(s{c}.s, 0.0) + (SELECT bias FROM b{p}) AS logit
      FROM y LEFT JOIN s{c} USING (doc_id)
    ), err{c} AS (
      SELECT doc_id,
             {q('1.0 / (1.0 + exp(-logit))', 6)} - y AS err
      FROM lg{c}
    ), g{c} AS (
      SELECT counts.bucket,
             {q(f"({ex.sql_sum(q('counts.cnt * err%d.err' % c, 6), 6)}) / (SELECT n FROM nn)", 6)} AS g
      FROM counts JOIN err{c} USING (doc_id)
      GROUP BY counts.bucket
    ), w{c} AS (
      SELECT w{p}.bucket, w{p}.wgt - COALESCE(g{c}.g, 0.0) AS wgt
      FROM w{p} LEFT JOIN g{c} USING (bucket)
    ), b{c} AS (
      SELECT (SELECT bias FROM b{p})
             - ({q(f"({ex.sql_sum(q('err', 6), 6)}) / (SELECT n FROM nn)", 6)})
               AS bias
      FROM err{c}
    )
        """)
    tail = f"""
    , sf AS (
      SELECT counts.doc_id, {ex.sql_sum(q('counts.cnt * w.wgt', 6), 6)} AS s
      FROM counts JOIN w{rounds} w USING (bucket)
      GROUP BY counts.doc_id
    ), lgf AS (
      SELECT y.doc_id,
             {q(f"COALESCE(sf.s, 0.0) + (SELECT bias FROM b{rounds})", 6)}
               AS logit
      FROM y LEFT JOIN sf USING (doc_id)
    )
    SELECT doc_id, logit,
           {q('1.0 / (1.0 + exp(-logit))', 6)} AS prob,
           logit > 0 AS keep
    FROM lgf
    """
    return head + "".join(blocks) + tail


ORACLE_QUALITY_LOGREG = _logreg_oracle()


QUERIES = {
    "training_mixture_resample": training_mixture_resample,
    "training_chunk_documents": training_chunk_documents,
    "training_winsorize_values": training_winsorize_values,
    "training_split_assign": training_split_assign,
    "training_sample_documents": training_sample_documents,
    "training_sample_stratified": training_sample_stratified,
    "training_outlier_iqr": training_outlier_iqr,
    "pipeline_curate_corpus": pipeline_curate_corpus,
    "training_pack_sequences": training_pack_sequences,
    "training_contamination_check": contamination_check,
    "training_take_k_per_lang": training_take_k_per_lang,
    "training_weighted_sample": training_weighted_sample,
    "training_weighted_sample_per_lang": training_weighted_sample_per_lang,
    "training_domain_quota": training_domain_quota,
    "training_epoch_shard": training_epoch_shard,
    "training_shard_manifest": training_shard_manifest,
    "training_split_cluster_safe": training_split_cluster_safe,
    "training_dsir_resample": training_dsir_resample,
    "training_quality_logreg": training_quality_logreg,
}

_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
# word-3-gram distinct shingles, matching functions.text.word_shingles:
# <3 tokens → the whole token string is the single shingle
_SHINGLES = f"""
    CASE WHEN len({_TOKS}) >= 3
         THEN list_distinct(list_transform(
                range(1, len({_TOKS}) - 1),
                i -> concat_ws(' ', ({_TOKS})[i], ({_TOKS})[i+1],
                               ({_TOKS})[i+2])))
         ELSE [array_to_string({_TOKS}, ' ')]
    END
"""
_SPLIT = f"""
    CASE WHEN (doc_id * {SPLIT_MULTIPLIER}) % {SPLIT_BUCKETS} < {TRAIN_LT}
         THEN 'train'
         WHEN (doc_id * {SPLIT_MULTIPLIER}) % {SPLIT_BUCKETS} < {VAL_LT}
         THEN 'val' ELSE 'test' END
"""

def _curate_oracle() -> str:
    # reuse the quality oracle verbatim so both pipelines share one
    # definition of "quality"
    from mpi_mapreduce_spark.operators.textops import ORACLE as TEXT_ORACLE

    quality_sql = TEXT_ORACLE["text_quality_score"]
    return f"""
        WITH q AS ({quality_sql}),
        kept AS (
          SELECT d.doc_id, d.text
          FROM documents d JOIN q ON d.doc_id = q.doc_id
          WHERE q.quality >= {CURATE_QUALITY_MIN}
        ),
        ded AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM kept
          ) WHERE rn = 1
        ),
        t AS (
          SELECT doc_id, {_SPLIT} AS split,
                 doc_id % {PACK_SHARDS} AS shard,
                 CAST(len({_TOKS}) AS BIGINT) AS n_tokens
          FROM ded
        ),
        p AS (
          SELECT *,
                 SUM(n_tokens) OVER (PARTITION BY split, shard
                                     ORDER BY doc_id) AS cum
          FROM t
        )
        SELECT split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
               CAST(COUNT(DISTINCT (shard, (cum - n_tokens) // {PACK_BUDGET}))
                    AS BIGINT) AS n_bins
        FROM p GROUP BY split
    """


_MIX_VALUES = ", ".join(
    f"('{lang}', {wt})" for lang, wt in MIXTURE_WEIGHTS.items()
)

ORACLE = {
    "training_split_cluster_safe": _cluster_safe_oracle(),
    "training_dsir_resample": ORACLE_DSIR,
    "training_quality_logreg": ORACLE_QUALITY_LOGREG,
    "training_shard_manifest": ORACLE_SHARD_MANIFEST,
    "training_epoch_shard": ORACLE_EPOCH_SHARD,
    "training_domain_quota": f"""
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY (doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} ASC,
                          doc_id ASC
               ) AS BIGINT) AS src_rank,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY (doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} ASC,
                          doc_id ASC
               ) <= {DOMAIN_QUOTA} AS keep
        FROM documents
    """,
    "training_mixture_resample": f"""
        WITH w(lang, wt) AS (VALUES {_MIX_VALUES}),
        n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        caps AS (
          SELECT n.lang, w.wt, (n.n * 100) // w.wt AS t_g
          FROM n JOIN w USING (lang)
        ),
        tt AS (SELECT MIN(t_g) AS t FROM caps),
        k AS (
          SELECT lang, (wt * (SELECT t FROM tt)) // 100 AS k_g FROM caps
        ),
        r AS (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD},
                            doc_id
                 ) AS rn
          FROM documents
        )
        SELECT r.doc_id, r.lang FROM r JOIN k USING (lang)
        WHERE rn <= k_g
    """,
    "training_chunk_documents": f"""
        WITH k AS (
          SELECT doc_id, text,
                 unnest(generate_series(0,
                   CASE WHEN n_chars > {CHUNK_LEN}
                        THEN (n_chars - {CHUNK_LEN} + {_STRIDE} - 1)
                             // {_STRIDE}
                        ELSE 0 END)) AS chunk_id
          FROM documents
        )
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               substring(text, CAST(1 + chunk_id * {_STRIDE} AS INTEGER),
                         {CHUNK_LEN}) AS chunk_text,
               CAST(length(substring(text,
                    CAST(1 + chunk_id * {_STRIDE} AS INTEGER),
                    {CHUNK_LEN})) AS BIGINT) AS chunk_len
        FROM k
    """,
    "training_winsorize_values": f"""
        WITH b AS (
          SELECT event_type,
                 quantile_cont(value, {WINSOR_LO}) AS lo,
                 quantile_cont(value, {WINSOR_HI}) AS hi
          FROM events GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               LEAST(GREATEST(e.value, b.lo), b.hi) AS value_winsorized
        FROM events e JOIN b USING (event_type)
    """,
    "training_sample_documents": f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE (doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} < {SAMPLE_KEEP}
    """,
    "training_take_k_per_lang": ORACLE_TAKE_K,
    "training_weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "training_weighted_sample_per_lang": ORACLE_WEIGHTED_PER_LANG,
    "training_sample_stratified": f"""
        SELECT lang, COUNT(*) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        FROM documents
        WHERE (doc_id * {SAMPLE_MULTIPLIER}) % {SAMPLE_MOD} <
              CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 8000
                        WHEN 'es' THEN 8000 WHEN 'de' THEN 8000
                        WHEN 'fr' THEN 8000 ELSE 5000 END
        GROUP BY lang
    """,
    "pipeline_curate_corpus": _curate_oracle(),
    "training_outlier_iqr": """
        WITH q AS (
          SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS q1,
                 percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS q3
          FROM documents
        ), b AS (
          SELECT q1 - 1.5 * (q3 - q1) AS lo_fence,
                 q3 + 1.5 * (q3 - q1) AS hi_fence
          FROM q
        )
        SELECT doc_id, n_chars, lo_fence, hi_fence,
               n_chars < lo_fence OR n_chars > hi_fence AS is_outlier
        FROM documents CROSS JOIN b
    """,
    "training_split_assign": f"""
        SELECT doc_id, lang,
               (doc_id * {SPLIT_MULTIPLIER}) % {SPLIT_BUCKETS} AS bucket,
               {_SPLIT} AS split
        FROM documents
    """,
    "training_pack_sequences": f"""
        WITH t AS (
          SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
                 CAST(len({_TOKS}) AS BIGINT) AS n_tokens
          FROM documents
        )
        SELECT doc_id, shard, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                     - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin
        FROM t
    """,
    "training_contamination_check": f"""
        WITH sh AS (
          SELECT doc_id, {_SPLIT} AS split, unnest({_SHINGLES}) AS s
          FROM documents
        ),
        train_sh AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
        test_sh AS (SELECT doc_id, s FROM sh WHERE split = 'test')
        SELECT t.doc_id,
               COUNT(*) AS n_shingles,
               COUNT(tr.s) AS n_shared,
               COUNT(tr.s) * 2 >= COUNT(*) AS contaminated
        FROM test_sh t LEFT JOIN train_sh tr ON t.s = tr.s
        GROUP BY t.doc_id
    """,
}
