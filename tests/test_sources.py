"""Sources & sinks: reference-granularity text corpus in, reference-
format key/val text out, and columnar round-trips (parquet partitioned,
csv, json)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.operators.mapreduce import map1_charclass
from mpi_mapreduce_spark.sources import (
    read_kv_text,
    read_table,
    read_text_corpus,
    write_kv_text,
    write_table,
)


def test_text_corpus_whole_file_granularity(spark, tmp_path):
    """One row per FILE (the reference's map-call unit), not per line."""
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "0.txt").write_text("Hello 123\nworld!")
    (d / "1.txt").write_text("abc")
    docs = read_text_corpus(spark, str(d))
    rows = {r.doc_path.rsplit("/", 1)[-1]: r.text for r in docs.collect()}
    assert rows == {"0.txt": "Hello 123\nworld!", "1.txt": "abc"}
    # reference map1 semantics over the corpus: letters/numbers/others
    got = {r.key: r.val for r in map1_charclass(docs).collect()}
    assert got == {"letters": 13, "numbers": 3, "others": 3}


def test_kv_text_round_trip_and_format(spark, tmp_path):
    kv = spark.createDataFrame(
        [("letters", 170), ("numbers", 0), ("others", 23)], "key string, val long"
    )
    out = tmp_path / "kv_out"
    write_kv_text(kv, str(out))
    # exact reference line format: "key<space>val", key-sorted
    part = next(p for p in out.iterdir() if p.name.startswith("part-"))
    assert part.read_text() == "letters 170\nnumbers 0\nothers 23\n"
    back = read_kv_text(spark, str(out))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, kv.collect()))


def test_parquet_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_table(orders, out, partition_by=["year"])
    back = read_table(spark, out)
    assert back.count() == orders.count()
    sub = back.where(F.col("year") == 1996)
    # partition pruning: the physical plan must carry the partition
    # filter (directory-level pruning, no full scan)
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan
    assert sub.count() == orders.where(F.year("o_orderdate") == 1996).count()


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key with equal bucket counts →
    the sort-merge join must plan with NO Exchange on either side (the
    100 TB fact-fact join layout; shuffle paid once at write time)."""
    from mpi_mapreduce_spark.sources import read_bucketed, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        orders, "b_orders", 4, ["o_orderkey"], sort_cols=["o_orderkey"],
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", 4, ["o_orderkey"], sort_cols=["o_orderkey"],
        path=str(tmp_path / "b_lineitem"),
    )
    try:
        # disable broadcast so the join exercises the bucketed SMJ path
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_bucketed(spark, "b_orders").join(
                read_bucketed(spark, "b_lineitem"), "o_orderkey"
            )
            assert joined.count() == li.count()
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_csv_json_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25)], "id long, s string, x double"
    )
    for fmt in ("csv", "json"):
        out = str(tmp_path / f"t_{fmt}")
        write_table(df, out, fmt=fmt)
        back = read_table(spark, out, fmt=fmt, schema="id long, s string, x double")
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_compact_and_cluster_gives_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """After compaction clustered by l_shipdate: exactly target_files
    parquet files, per-file min/max ranges (parquet footer stats via
    DuckDB) pairwise disjoint, and a date-range scan reads fewer rows
    than the table (file/row-group pruning is real)."""
    import duckdb

    from mpi_mapreduce_spark.sources.io import compact_and_cluster

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "li_clustered")
    compact_and_cluster(li, out, ["l_shipdate"], target_files=8)

    files = [str(p) for p in __import__("pathlib").Path(out).glob("*.parquet")]
    assert len(files) == 8
    ranges = []
    con = duckdb.connect()
    for f in files:
        lo, hi = con.execute(
            f"SELECT min(l_shipdate), max(l_shipdate) FROM '{f}'"
        ).fetchone()
        ranges.append((lo, hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap — clustering failed"

    # physical co-location: a one-month predicate's rows live in at
    # most 2 of the 8 files (the reader's row-group pruning then skips
    # the rest of the table via the pushed filter + tight stats)
    from pyspark.sql import functions as F

    pruned_scan = spark.read.parquet(out).where(
        "l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'"
    )
    n_files_hit = pruned_scan.select(F.input_file_name()).distinct().count()
    assert 0 < n_files_hit <= 2
    assert spark.read.parquet(out).count() == li.count()


def test_refcorpus_datasource_reads_reference_layout(spark, tmp_path):
    """Custom Python DataSource: numbered whole-file records, one input
    partition per file (the reference's map-task granularity)."""
    from mpi_mapreduce_spark.sources.refcorpus import register_ref_corpus_source

    docs = ["alpha beta", "gamma 123!", "", "tail\nlines\n"]
    for i, t in enumerate(docs):
        (tmp_path / f"{i}.txt").write_text(t)
    (tmp_path / "notes.md").write_text("ignored")  # not {i}.txt

    register_ref_corpus_source(spark)
    df = spark.read.format("refcorpus").option("path", str(tmp_path)).load()
    assert df.rdd.getNumPartitions() == len(docs)
    got = {r.doc_id: r.text for r in df.collect()}
    assert got == {i: t for i, t in enumerate(docs)}


def test_refcorpus_datasource_golden_parity(spark):
    """The connector + map2 pipeline reproduces the reference's golden
    2.output byte-for-byte semantics (letters over files 0-4)."""
    import os

    import pytest

    ref = "/root/reference/sample_input_files"
    if not os.path.isdir(ref):
        pytest.skip("reference corpus not available")
    from mpi_mapreduce_spark.operators.mapreduce import map2_letterfreq
    from mpi_mapreduce_spark.sources.refcorpus import register_ref_corpus_source

    register_ref_corpus_source(spark)
    corpus = (
        spark.read.format("refcorpus")
        .option("path", ref)
        .option("numFiles", "5")
        .load()
    )
    got = {r["key"]: r["val"] for r in map2_letterfreq(corpus).collect()}
    golden = {}
    with open("/root/reference/sample_output_files/2.output") as f:
        for line in f:
            if line.strip():
                k, v = line.split()
                golden[k] = int(v)
    assert got == golden


def test_schema_evolution_merges_new_column(spark, tmp_path):
    """A column added in a later batch surfaces as NULL for earlier
    batches under read_table_evolved, and filters on the evolved
    column still push to the scan."""
    from mpi_mapreduce_spark.sources.io import read_table_evolved

    path = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"]).write.mode(
        "overwrite"
    ).parquet(path)
    spark.createDataFrame(
        [(3, "c", 30.0), (4, "d", 40.0)], ["id", "s", "score"]
    ).write.mode("append").parquet(path)

    df = read_table_evolved(spark, path)
    assert set(df.columns) == {"id", "s", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] == 30.0 and rows[4] == 40.0
    assert df.where(df.score > 35).count() == 1


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC is the third columnar format (after parquet and the CSV/JSON
    text formats): round-trips values and pushes filters to the scan."""
    df = spark.createDataFrame(
        [(i, f"s{i}", i * 1.5) for i in range(100)], "id long, s string, x double"
    )
    out = str(tmp_path / "t_orc")
    write_table(df, out, fmt="orc")
    back = read_table(spark, out, fmt="orc")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    plan = (
        back.where(F.col("id") > 90)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "id" in plan.split("PushedFilters")[1][:80]


def _per_file_minmax(spark, path, cols):
    import glob

    out = []
    for f in sorted(glob.glob(path + "/part-*.parquet")):
        agg = spark.read.parquet(f).agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        ).first()
        out.append({c: (agg[f"lo_{c}"], agg[f"hi_{c}"]) for c in cols})
    return out


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """An x-range-clustered table cannot prune a y-only predicate (all
    files span full y); the z-ordered layout prunes on either axis via
    the same parquet min/max stats."""
    from mpi_mapreduce_spark.sources.io import compact_and_cluster, write_zordered

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    xdir, zdir = str(tmp_path / "xclust"), str(tmp_path / "zord")
    compact_and_cluster(grid, xdir, ["x"], target_files=16)
    write_zordered(grid, zdir, ["x", "y"], target_files=16)

    def overlapping(path, col, lo, hi):
        files = _per_file_minmax(spark, path, ["x", "y"])
        assert len(files) == 16
        return sum(1 for f in files if not (f[col][1] < lo or f[col][0] > hi))

    # y-only box covering 1/8 of the domain
    assert overlapping(xdir, "y", 8, 15) == 16  # x-layout: no y locality
    assert overlapping(zdir, "y", 8, 15) <= 8   # z-layout: prunes on y
    # x predicates still prune in BOTH layouts
    assert overlapping(xdir, "x", 8, 15) <= 4
    assert overlapping(zdir, "x", 8, 15) <= 8
    # round-trip: no rows lost by the rewrite
    assert spark.read.parquet(zdir).count() == 64 * 64


def test_read_robust_quarantines_malformed_csv(spark, tmp_path):
    """Good rows parse with declared types; bad rows land in the
    corrupt column verbatim instead of failing or vanishing."""
    from mpi_mapreduce_spark.sources.io import (
        CORRUPT_COL,
        read_robust,
        split_valid_corrupt,
    )

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,qty,price\n"
        "1,3,9.99\n"
        "2,not_a_number,1.50\n"
        "3,7,2.25\n"
        "4,1,bad_price\n"
    )
    df = read_robust(
        spark, str(p), "id BIGINT, qty BIGINT, price DOUBLE", fmt="csv"
    )
    valid, corrupt = split_valid_corrupt(df)
    good = {(r.id, r.qty, float(r.price)) for r in valid.collect()}
    assert good == {(1, 3, 9.99), (3, 7, 2.25)}
    bad = sorted(r[CORRUPT_COL] for r in corrupt.collect())
    assert bad == ["2,not_a_number,1.50", "4,1,bad_price"]
    assert CORRUPT_COL not in valid.columns


def test_read_robust_quarantines_malformed_json(spark, tmp_path):
    from mpi_mapreduce_spark.sources.io import read_robust, split_valid_corrupt

    p = tmp_path / "feed.json"
    p.write_text(
        '{"id": 1, "qty": 3}\n'
        "{broken json!!\n"
        '{"id": 2, "qty": "seven"}\n'
        '{"id": 4, "qty": 9}\n'
    )
    df = read_robust(spark, str(p), "id BIGINT, qty BIGINT", fmt="json")
    valid, corrupt = split_valid_corrupt(df)
    assert {(r.id, r.qty) for r in valid.collect()} == {(1, 3), (4, 9)}
    # count() would prune to the corrupt column alone, which the
    # scan forbids (QUERY_ONLY_CORRUPT_RECORD_COLUMN) - materialize
    assert len(corrupt.collect()) == 2


def test_incremental_ingest_ledger(spark, tmp_path):
    """Only unrecorded files are read; the ledger survives multiple
    commits; a crash before record_ingested re-reads (at-least-once);
    an in-place rewrite of an ingested file raises."""
    import os

    from mpi_mapreduce_spark.sources.io import (
        ingest_incremental,
        record_ingested,
    )

    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    os.makedirs(src)

    def drop(name, ids):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        part = next(
            f
            for f in os.listdir(str(tmp_path / "stage"))
            if f.endswith(".parquet")
        )
        os.replace(
            str(tmp_path / "stage" / part), os.path.join(src, name)
        )

    drop("a.parquet", [1, 2])
    drop("b.parquet", [3])
    df, files = ingest_incremental(spark, src, ledger)
    assert len(files) == 2 and df.count() == 3
    record_ingested(spark, ledger, files, batch_key="bk1")

    # nothing new -> no frame
    df2, files2 = ingest_incremental(spark, src, ledger)
    assert df2 is None and files2 == []

    # new file: only it is read
    drop("c.parquet", [4, 5])
    df3, files3 = ingest_incremental(spark, src, ledger)
    assert [os.path.basename(f) for f in files3] == ["c.parquet"]
    assert sorted(r.id for r in df3.collect()) == [4, 5]
    # crash before record: the same file comes back (at-least-once)
    df4, files4 = ingest_incremental(spark, src, ledger)
    assert files4 == files3
    record_ingested(spark, ledger, files4, batch_key="bk2")
    assert ingest_incremental(spark, src, ledger)[1] == []

    # in-place rewrite of an ingested file is an error, not a skip
    drop("c.parquet", [6, 7, 8])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rewritten in place"):
        ingest_incremental(spark, src, ledger)


def test_has_committed_parquet_ignores_temporary(spark, tmp_path):
    """Round-8 review regression: a TORN Spark write (only
    _temporary task attempts on disk) must read as 'no committed
    table' — Spark's reader ignores underscore dirs, so counting them
    made nightly crash replays die with UNABLE_TO_INFER_SCHEMA
    forever. The same census holds through a ``file:`` URI (the
    Hadoop FileSystem view every state-directory probe shares)."""
    import os

    from mpi_mapreduce_spark.sources.io import has_committed_parquet

    d = str(tmp_path / "idx")
    assert not has_committed_parquet(spark, d)  # absent
    os.makedirs(os.path.join(d, "_temporary", "0"))
    open(os.path.join(d, "_temporary", "0", "part-0.snappy.parquet"), "w").close()
    open(os.path.join(d, "_SUCCESS"), "w").close()
    assert not has_committed_parquet(spark, d)  # torn: only in-flight files
    # dot-staged files (a direct committer's pre-rename staging) and
    # hidden dirs are ignored by Spark's hiddenFileFilter too — a
    # directory holding only those is still a torn table (ADVICE r8)
    open(os.path.join(d, ".part-1.snappy.parquet"), "w").close()
    os.makedirs(os.path.join(d, ".staging"))
    open(os.path.join(d, ".staging", "part-2.snappy.parquet"), "w").close()
    assert not has_committed_parquet(spark, d)  # still torn: only hidden files
    os.makedirs(os.path.join(d, "batch=b1"))
    open(os.path.join(d, "batch=b1", "part-0.snappy.parquet"), "w").close()
    assert has_committed_parquet(spark, d)  # committed file present
    assert has_committed_parquet(spark, f"file:{d}")  # same through a URI
    assert not has_committed_parquet(spark, f"file:{tmp_path / 'absent'}")
    os.remove(os.path.join(d, "batch=b1", "part-0.snappy.parquet"))
    assert not has_committed_parquet(spark, f"file:{d}")  # torn again
