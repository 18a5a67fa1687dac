"""Iterative graph analytics: weighted PageRank over a derived graph.

The reference has no graphs (SURVEY.md §1.1 — its whole data model is
one (string, int) pair, reference tasks.h:12-15); connected components
(operators/dedup.py) covers min-label propagation for dedup clusters.
This module adds the other canonical iterative-graph workload: a
fixed-iteration weighted PageRank, exercising a plan shape nothing
else in the engine has — a loop whose state is a small DataFrame
re-joined against a large static edge list each round.

Graph derivation: the nation-level trade graph. An edge src→dst with
weight w means suppliers of nation `src` shipped w lineitems to
customers of nation `dst` (the TPC-H q7 "volume shipping" join shape,
operators/tpch_full.py). The edge aggregation is the only heavy scan;
iterations then run on a |nations|-row state table.

Determinism: PageRank in floats is order-sensitive (sums of per-edge
double contributions). Instead, rank mass is an INTEGER in units of
1e-12 (SCALE), per-edge contributions use integer floor division
(`div` in Spark, `//` in DuckDB — identical for non-negative
operands), and the damping factor 0.85 is applied as *85 then div
100. Every iteration is exact int64 arithmetic — bit-identical across
engines and partitionings, which also makes results auditable on a
real cluster. Mass leaks at most a few units per node per round to
flooring (bounded by in-degree), identically on both sides.

Scale notes (100 TB): the lineitem→supplier/orders→customer joins
broadcast the dims (supplier, nation) and shuffle lineitem↔orders on
orderkey once; edges collapse to ≤ |nations|² rows. Each iteration
broadcasts the tiny rank state into the edge list — no shuffle of
edges ever repeats, and the loop's lineage stays flat because the
state is localCheckpoint'd every round (same pattern as
dedup.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_mapreduce_spark.datamodel import load_table

#: rank mass units per unit of probability (1e-12 resolution)
SCALE = 1_000_000_000_000
N_ITER = 5
DAMP_NUM, DAMP_DEN = 85, 100


def trade_edges(
    lineitem: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """Nation→nation shipment counts: (src, dst, w)."""
    return (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )


def pagerank(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Weighted PageRank, integer-exact. `nodes` has column `id`;
    `edges` has (src, dst, w). Returns (id, pr) with pr in SCALE
    units. Dangling nodes keep their base share (sink mass is dropped,
    not redistributed — deterministic and cross-engine-identical).

    The N_ITER rounds stay lazy: one job whose plan chains N_ITER
    broadcast joins, with no per-round localCheckpoint. Quiet-box A/B
    at sf0.1 (6 alternating full construct+count runs, warm JVM):
    lazy min 2.24 s vs eager-every-round min 2.84 s."""
    n = nodes.count()
    base = (SCALE // n) * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # edges carry their source's total out-weight; materialize once
    ew = edges.join(outw, "src").select("src", "dst", "w", "ow")
    ew = ew.localCheckpoint(eager=True)

    pr = nodes.select("id", (F.lit(SCALE // n)).cast("long").alias("pr"))
    for _ in range(N_ITER):
        contrib = (
            ew.join(F.broadcast(pr), ew.src == pr.id)
            .select(
                F.col("dst").alias("id"),
                F.expr("(pr * w) div ow").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = nodes.select("id").join(contrib, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr(
                    f"({DAMP_NUM} * coalesce(contrib, 0L)) div {DAMP_DEN}"
                )
            ).cast("long").alias("pr"),
        )
    return pr


def graph_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank of the nation trade graph: which nations absorb the
    most shipment mass after 5 damped rounds."""
    edges = trade_edges(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )
    nation = load_table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").alias("id"))
    pr = pagerank(nodes, edges)
    return pr.join(F.broadcast(nation), pr.id == nation.n_nationkey).select(
        F.col("n_name").alias("nation"), F.col("pr")
    )


QUERIES = {"graph_nation_pagerank": graph_nation_pagerank}


def _oracle_pagerank() -> str:
    base = f"((({SCALE} // nn.n) * {DAMP_DEN - DAMP_NUM}) // {DAMP_DEN})"
    cte = f"""
        WITH edges AS (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                 COUNT(*) AS w
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN orders o   ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ), outw AS (
          SELECT src, SUM(w) AS ow FROM edges GROUP BY 1
        ), ew AS (
          SELECT e.src, e.dst, e.w, o.ow
          FROM edges e JOIN outw o ON e.src = o.src
        ), nodes AS (
          SELECT n_nationkey AS id, n_name FROM nation
        ), nn AS (SELECT COUNT(*) AS n FROM nodes),
        it0 AS (
          SELECT id, CAST({SCALE} // nn.n AS BIGINT) AS pr
          FROM nodes, nn
        )"""
    prev = "it0"
    for i in range(1, N_ITER + 1):
        cte += f""",
        it{i} AS (
          SELECT nodes.id,
                 CAST({base} + ({DAMP_NUM} * COALESCE(c.contrib, 0))
                      // {DAMP_DEN} AS BIGINT) AS pr
          FROM nodes CROSS JOIN nn
          LEFT JOIN (
            SELECT e.dst AS id, SUM((p.pr * e.w) // e.ow) AS contrib
            FROM ew e JOIN {prev} p ON e.src = p.id
            GROUP BY e.dst
          ) c ON nodes.id = c.id
        )"""
        prev = f"it{i}"
    return cte + f"""
        SELECT n.n_name AS nation, p.pr
        FROM {prev} p JOIN nodes n ON p.id = n.id
    """


ORACLE = {"graph_nation_pagerank": _oracle_pagerank()}
