"""Sources & sinks (SURVEY.md §2.1).

The reference reads a directory of numbered text files — one whole
file per record (reference main.cpp:28-47, resolveFilePath +
readFileIntoCharBuffer) — and writes results as ``key<space>val``
lines to a single text file (reference main.cpp:157-174). Both are
reproduced here Spark-first, plus the general columnar formats the
reference lacks (parquet/csv/json, partitioned layouts).

Scale notes:
- the text-corpus source uses Spark's file-based DataSource (splits,
  locality, parallel listing) — NOT a driver-side loop like the
  reference's master, which held every file in memory at once
  (main.cpp:133-155);
- `write_table(..., partition_by=...)` is the 100 TB layout tool:
  partition pruning turns date/tenant filters into directory pruning;
- `write_kv_text` intentionally coalesces to ONE file only because
  the reference's contract is a single output file — at scale you'd
  drop the coalesce and keep one file per partition.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_mapreduce_spark.datamodel import KV_SCHEMA

#: save mode of the table sinks and layout rewrites below: a write
#: replaces the table (compaction and clustering are rewrites)
WRITE_MODE = "overwrite"
#: Z-order bucket bits per dimension: 8 bounds the curve at 65k cells
#: for 2-D — plenty for file-level pruning; row-group pruning inside
#: files comes free from the sortWithinPartitions
ZORDER_BITS = 8


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file-per-row corpus scan — the reference's input
    granularity (one map call per file, main.cpp:141-155, 205).
    Returns (doc_path, text); doc_path is the stable identifier."""
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(path)
        .select(
            F.input_file_name().alias("doc_path"),
            F.col("value").alias("text"),
        )
    )


def write_kv_text(df: DataFrame, path: str) -> None:
    """Reference-format result sink: ``key<space>val`` lines, one
    file, key-sorted (the golden outputs are key-sorted; the reference
    itself writes in arrival order — order is not semantic,
    SURVEY.md §2.6)."""
    (
        df.orderBy("key")
        .select(F.concat_ws(" ", F.col("key"), F.col("val")).alias("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """Inverse of write_kv_text → (key string, val long)."""
    line = spark.read.text(path)
    return line.select(
        F.regexp_extract("value", r"^(.*) (-?\d+)$", 1).alias("key"),
        F.regexp_extract("value", r"^(.*) (-?\d+)$", 2).cast("long").alias("val"),
    )


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar/row sink: parquet (canonical), csv, json; optional
    hive-style partitioning for pruning at scale."""
    w = df.write.mode(WRITE_MODE).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: str | None = None
) -> DataFrame:
    """Source twin of write_table. Pass an explicit DDL schema for
    csv/json (schema-on-read inference is a full extra pass — never
    rely on it at scale)."""
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true")
    if schema:
        r = r.schema(schema)
    elif fmt in ("csv", "json"):
        r = r.option("inferSchema", "true")
    return r.load(path)


def read_table_evolved(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Schema-evolution read: merge the footers of every file under
    `path` so batches written before a column existed surface it as
    NULL. mergeSchema is a footer-only pass (no data scan), but it is
    still O(files) on the driver — at 100 TB pin the canonical schema
    in a catalog and pass it to read_table instead; this entry point
    is for exploratory reads over heterogeneous drops."""
    return spark.read.format(fmt).option("mergeSchema", "true").load(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed (hash-clustered) table sink — the co-located-join layout.

    At 100 TB the dominant cost of a fact-fact join (lineitem ⋈ orders)
    is shuffling both sides on the key. Writing both tables bucketed on
    that key with the SAME bucket count pins matching keys to matching
    files; Spark's scan then reports a ``HashPartitioning`` output and
    the sort-merge join plans with NO Exchange on either side — the
    shuffle is paid once at write time and amortized over every
    subsequent join/aggregation on the key. ``sort_cols`` additionally
    pre-sorts within buckets so the join can skip its sort.

    Bucketed layout requires the catalog (`saveAsTable`) — bucket
    metadata lives in table properties, not the parquet files — so this
    sink takes a table name; pass ``path`` to pin the data location.
    """
    w = (
        df.write.mode(WRITE_MODE)
        .format(fmt)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read of a bucketed table (bucket metadata applies only
    through the catalog; `spark.read.parquet(path)` on the same files
    would silently lose the co-location guarantee)."""
    return spark.table(table)


KV_TEXT_SCHEMA = KV_SCHEMA  # re-export: the sink/source pair's schema


def compact_and_cluster(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    target_files: int,
) -> None:
    """Compaction + range clustering — the file-layout maintenance job
    a 100 TB table needs periodically.

    Streaming sinks and incremental loads leave two layout problems:
    many small files (per-epoch, per-partition) and no value locality,
    so every range predicate reads every row group. This job rewrites
    the table with ``repartitionByRange(cluster_by)`` + a sort within
    partitions: each output file owns a disjoint ``cluster_by`` range,
    and parquet row-group min/max stats become tight — a filter on the
    cluster key then prunes whole files (Spark reads the footers) and
    row groups (predicate pushdown), turning O(table) scans into
    O(selectivity).

    ``target_files`` sizes the rewrite (pick bytes/file ~128-512 MB at
    scale). The range partitioner samples keys, so file boundaries
    adapt to skew. This is the same maintenance primitive lakehouse
    formats call OPTIMIZE ... ZORDER — for a single sort dimension,
    plain range clustering is optimal; multi-dimension needs a
    space-filling curve (compose one as an expression and cluster by
    it)."""
    (
        df.repartitionByRange(target_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
        .write.mode(WRITE_MODE)
        .parquet(path)
    )


def zorder_key(
    cols: list[str], mins: list[int], maxs: list[int]
) -> F.Column:
    """Morton (Z-order) key over N integer columns as one native
    column expression: each column min/max-normalizes to a
    :data:`ZORDER_BITS`-bit bucket, then the bucket bits interleave.
    Stays entirely in whole-stage codegen (shift/and/or ops) — no UDF."""
    top = (1 << ZORDER_BITS) - 1
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = max(int(hi) - int(lo), 1)
        scaled = (
            (F.col(c).cast("long") - F.lit(int(lo))) * F.lit(top)
        ) / F.lit(span)
        b = F.greatest(
            F.lit(0), F.least(F.lit(top), F.floor(scaled).cast("long"))
        )
        buckets.append(b)
    z = F.lit(0).cast("long")
    n = len(buckets)
    for bit in range(ZORDER_BITS):
        for i, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * n + i,
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    target_files: int,
) -> None:
    """Multi-dimension clustering via a space-filling curve — the
    layout OPTIMIZE ... ZORDER produces in lakehouse formats.

    Range-clustering on one column (compact_and_cluster) makes that
    column's file min/max stats tight but leaves every OTHER column's
    stats spanning the full domain — a filter on y reads all files of
    an x-clustered table. Sorting by the Morton interleave of (x, y)
    gives every file a small axis-aligned rectangle of the value
    space, so predicates on ANY clustered dimension (or both) prune
    files through ordinary parquet min/max stats — no index structure,
    no planner change.

    The min/max normalization stats come from one aggregate over the
    input (at 100 TB: a column-pruned scan, or reuse catalog stats);
    :data:`ZORDER_BITS` sets the curve's resolution."""
    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    ).first()
    z = zorder_key(
        cols,
        [stats[f"__min_{c}"] for c in cols],
        [stats[f"__max_{c}"] for c in cols],
    )
    (
        df.withColumn("__zorder", z)
        .repartitionByRange(target_files, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode(WRITE_MODE)
        .parquet(path)
    )


CORRUPT_COL = "_corrupt_record"


def read_robust(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "csv",
) -> DataFrame:
    """Malformed-input-tolerant csv/json source: PERMISSIVE parse with
    the raw text of every unparseable row captured in CORRUPT_COL —
    real feeds always carry some garbage, and silently dropping it
    (DROPMALFORMED) destroys the audit trail. Requires an explicit
    DDL schema: at scale inference is an extra full pass, and
    PERMISSIVE needs declared types to know what "malformed" means.

    Returns the full frame (good rows + corrupt rows); split with
    split_valid_corrupt. Quarantining instead of failing keeps a
    100 TB ingest job running when one file in a million is bad —
    FAILFAST is for curated inputs only."""
    full_schema = f"{schema}, {CORRUPT_COL} STRING"
    r = (
        spark.read.format(fmt)
        .schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)


def split_valid_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the corrupt column, quarantine rows keeping
    both the raw text and whatever fields did parse) — write the
    quarantine to its own sink for replay after the upstream fix.
    The quarantine keeps the full row because Spark refuses a scan
    whose only referenced column is the internal corrupt-record
    column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and the partial
    parse is diagnostic signal anyway."""
    valid = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.where(F.col(CORRUPT_COL).isNotNull())
    return valid, corrupt


# ---------------------------------------------------------------------------
# Incremental file-ingest ledger
# ---------------------------------------------------------------------------

def _list_dir(
    spark: SparkSession,
    d: str,
    drop: Callable[[str, bool], bool] | None = None,
) -> list[tuple[str, bool, int]] | None:
    """(name, is_dir, length) of every entry of directory ``d``, or
    None when ``d`` is absent or not a directory — the engine's one
    view of the directories Spark writes. It goes through the Hadoop
    FileSystem for ``d``'s scheme, the same listing Spark's own file
    index uses, so plain paths, ``file:`` URIs, HDFS and object
    stores (through their Hadoop connectors) all read alike, and no
    probe can disagree with the scan that follows it (ADVICE r12).
    Entries for which ``drop(name, is_dir)`` holds are deleted,
    recursively, and still listed. Driver-side metadata work, the
    same cost class as the scan planning."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(d)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath) or not fs.getFileStatus(jpath).isDirectory():
        return None
    out = []
    for st in fs.listStatus(jpath):
        entry = (st.getPath().getName(), st.isDirectory(), st.getLen())
        if drop is not None and drop(entry[0], entry[1]):
            fs.delete(st.getPath(), True)
        out.append(entry)
    return out


def has_committed_parquet(spark: SparkSession, d: str) -> bool:
    """True iff `d` contains at least one COMMITTED parquet file, at
    any depth.

    Files and directories whose names start with '_' (Spark's
    in-flight ``_temporary`` task attempts, ``_SUCCESS`` markers) or
    '.' (dot-staged ``.part-*`` files a direct committer renames on
    commit, ``.crc`` checksums) do not count, and skipped directories
    are not entered — Spark's hiddenFileFilter ignores BOTH prefixes,
    so a census that counts either makes a crash replay treat a TORN
    write as a readable table and die with UNABLE_TO_INFER_SCHEMA on
    every retry instead of treating the directory as absent (round-8
    review finding for '_', reproduced: kill the driver mid-write,
    replay forever fails until someone hand-deletes ``_temporary``;
    ADVICE r8 for '.'). Shared by every nightly index-maintenance job
    and by every ledger presence gate."""
    for name, is_dir, _ in _list_dir(spark, d) or ():
        if name.startswith(("_", ".")):
            continue
        if is_dir:
            if has_committed_parquet(spark, os.path.join(d, name)):
                return True
        elif name.endswith(".parquet"):
            return True
    return False


#: ledger row layout: which source files have been ingested (path is
#: the identity; size pins against in-place rewrites)
LEDGER_SCHEMA = "file_path string, file_size long, batch_key string"


def list_new_files(
    spark: SparkSession, src_dir: str, ledger_dir: str, suffix: str
) -> list[str]:
    """Source files under ``src_dir`` (by ``suffix``) not yet recorded
    in the ledger, sorted for determinism.

    Listing is driver-side metadata work — the same cost class as
    Spark's own file index; at real scale the listing comes from the
    table catalog/manifest instead, and the ledger would live in a
    transactional store. A file whose SIZE changed since it was
    recorded raises: in-place rewrites break file-identity ingest and
    must be quarantined upstream, not silently re-read or skipped.
    An absent ``src_dir`` lists as empty. Paths are
    ``os.path.join(src_dir, name)`` as given, not FS-qualified: that
    string is the ledger identity and feeds the batch key."""
    sizes = {
        os.path.join(src_dir, name): length
        for name, is_dir, length in _list_dir(spark, src_dir) or ()
        if not is_dir and name.endswith(suffix)
    }
    if not sizes:
        return []
    seen: dict[str, int] = {}
    if has_committed_parquet(spark, ledger_dir):
        for r in spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir).collect():
            seen[r.file_path] = r.file_size
    out = []
    for p, size in sorted(sizes.items()):
        if p in seen:
            if seen[p] != size:
                raise ValueError(
                    f"ingested file rewritten in place: {p} "
                    f"(ledger {seen[p]} bytes, now {size})"
                )
            continue
        out.append(p)
    return out


def ingest_incremental(
    spark: SparkSession, src_dir: str, ledger_dir: str
) -> tuple[DataFrame | None, list[str]]:
    """File-level incremental batch ingest: return (frame over ONLY
    the not-yet-ingested parquet files, their paths), or (None, [])
    when nothing is new.

    Protocol (the batch twin of streaming/sinks.py's exactly-once
    discipline): read → write downstream → THEN record_ingested().
    A crash between write and record re-reads those files next run
    (at-least-once); an idempotent downstream sink turns that into
    exactly-once. Recording before the write would silently drop data
    on failure — strictly worse."""
    new_files = list_new_files(spark, src_dir, ledger_dir, ".parquet")
    if not new_files:
        return None, []
    return spark.read.parquet(*new_files), new_files


def record_ingested(
    spark: SparkSession,
    ledger_dir: str,
    files: list[str],
    *,
    batch_key: str,
) -> None:
    """Append the given files to the ledger (call AFTER the downstream
    write succeeds).

    ``batch_key`` records WHICH ``batch=<k>`` index partitions this
    commit produced, making crashed partials provable orphans:
    :func:`reconcile_batch_partitions` drops any stored partition
    whose key is neither committed here nor current. REQUIRED (ADVICE
    r10): a single keyless commit used to append a NULL-key row, and
    the any-NULL legacy gate then permanently and silently disabled
    orphan reconciliation for the whole state dir. Ledgers written
    before this column existed still read back NULL (parquet
    missing-column semantics) and disable reconciliation rather than
    risk dropping committed state — but no NEW NULL rows can be
    minted. A caller with no partitioned artifact passes an explicit
    sentinel (its batch id is still well-defined via
    operators/nightly.py's _batch_key)."""
    sizes = {
        os.path.join(d, name): length
        for d in {os.path.dirname(p) for p in files}
        for name, _, length in _list_dir(spark, d) or ()
    }
    rows = [(p, sizes[p], batch_key) for p in files]
    spark.createDataFrame(rows, LEDGER_SCHEMA).write.mode("append").parquet(
        ledger_dir
    )


def committed_batch_keys(
    spark: SparkSession, ledger_dir: str
) -> tuple[set[str], bool]:
    """(the ledger's committed ``batch_key`` set, legacy flag). The
    legacy flag is True iff any ledger row predates the batch_key
    column (reads back NULL) — under a legacy ledger committed
    partitions cannot be distinguished from crashed partials, so
    consumers must fail SAFE for their own hazard direction:
    reconciliation drops nothing, compaction folds nothing (ADVICE
    r10 — folding an uncommitted partial bakes a crashed night's
    grams into the serving base, where the replayed batch would be
    flagged as a duplicate of itself).

    The presence gate reads the ledger directory through the SAME
    Hadoop FileSystem view as the partition walk (ADVICE r12 medium):
    with state and ledger on HDFS/an object store, a local-only
    listing gate read the ledger as absent, so committed=∅ with
    legacy=False — and reconcile's safety gate then PASSED and
    deleted every committed non-current batch partition (and weekly
    compactions silently folded nothing)."""
    committed: set[str] = set()
    legacy = False
    if has_committed_parquet(spark, ledger_dir):
        for r in (
            spark.read.schema(LEDGER_SCHEMA)
            .parquet(ledger_dir)
            .select("batch_key")
            .distinct()
            .collect()
        ):
            if r.batch_key is None:
                legacy = True
            else:
                committed.add(r.batch_key)
    return committed, legacy


def reconcile_batch_partitions(
    spark: SparkSession,
    ledger_dir: str,
    state_roots: list[str],
    current_keys: set[str],
) -> list[str]:
    """Drop orphaned ``batch=<k>`` index partitions left by a run that
    crashed BEFORE its ledger commit and whose key the replay can no
    longer reproduce (ADVICE r9: a new source file landing between the
    crash and the replay changes the replayed batch key, so the
    crashed partials escape the cores' ``batch != bkey`` serving
    exclusion and get served — the batch is flagged against its own
    prior partial writes and additive legs double-count).

    A partition is an orphan iff its key is NOT in the ledger's
    committed ``batch_key`` set and NOT in ``current_keys`` (tonight's
    keys — those partials are about to be overwritten by this very
    run's keyed writes, the already-pinned same-file-set replay path).

    Safety gate: if the ledger predates the ``batch_key`` column (any
    NULL key rows), committed partitions can't be distinguished from
    orphans, so nothing is dropped. Driver-side metadata work, same
    cost class as the ledger read itself; returns the dropped paths.

    Listing and deletion go through :func:`_list_dir` (r11, with
    dedup._batch_partition_dirs): the orphan drop must work wherever
    the partitions actually live — local FS here, HDFS or an object
    store through its Hadoop connector in production."""
    committed, legacy = committed_batch_keys(spark, ledger_dir)
    if legacy:
        return []
    keep = committed | current_keys
    dropped: list[str] = []

    def orphan(name: str, is_dir: bool) -> bool:
        return (
            is_dir
            and name.startswith("batch=")
            and name[len("batch=") :] not in keep
        )

    def _walk(d: str) -> None:
        for name, is_dir, _ in _list_dir(spark, d, drop=orphan) or ():
            if orphan(name, is_dir):
                dropped.append(os.path.join(d, name))
            elif is_dir and not name.startswith("batch="):
                _walk(os.path.join(d, name))  # never descend into batch dirs

    for root in state_roots:
        _walk(root)
    return dropped
