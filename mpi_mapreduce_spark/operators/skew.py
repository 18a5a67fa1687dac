"""Skew mitigation — salting utilities for hot keys at 100 TB.

The reference's only skew story is a bad one: static round-robin file
assignment lets one 453 KB file stall a mapper while others idle
(reference main.cpp:103-106; 2,348x input-size skew in its own sample
data). Spark's AQE handles moderate skew automatically
(spark.sql.adaptive.skewJoin, enabled in session.py); these helpers
cover the cases AQE can't fix:

- salted_agg: a single hot GROUP BY key overwhelms one reducer. Split
  every key into `salt_n` subkeys, aggregate partials, then re-agg the
  salted partials — two small shuffles instead of one skewed one.
  Correct for any commutative+associative aggregate (sum/count/min/
  max); exactly Spark's own partial-aggregation trick applied one
  level deeper.
- hot_key_split_join: a shuffle join where a few left keys are hot
  and only the hot slice of the right side is broadcastable — the hot
  rows ride a broadcast, only the cold tail shuffles. (When the whole
  right side is broadcastable, a plain ``F.broadcast`` join already
  kills the skew.)

The salted path costs one extra (tiny) shuffle, so it's opt-in per
query, not a default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_mapreduce_spark.datamodel import load_table
from mpi_mapreduce_spark.functions import exact as ex

DEFAULT_SALT = 16


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[Column, Column]],
    salt_n: int = DEFAULT_SALT,
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``aggs`` maps output column name -> (partial_agg_expr,
    final_agg_expr-over-partial). E.g. a count is
    ``(F.count("*"), F.sum(...))``; a sum is ``(F.sum(c), F.sum(...))``.
    Phase 1 groups by (key, salt) — the hot key's rows spread over
    `salt_n` reducers; phase 2 groups the `salt_n` partials per key.
    """
    salt = (F.spark_partition_id() * 31 + F.monotonically_increasing_id()) % salt_n
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(*[p.alias(f"_p_{name}") for name, (p, _) in aggs.items()])
    )
    return partial.groupBy(key).agg(
        *[
            f(F.col(f"_p_{name}")).alias(name)
            for name, (_, f) in aggs.items()
        ]
    )


#: hot-key cap for hot_key_split_join — Zipf mass concentrates in the
#: first few hundred keys, and 1024 rows is broadcast-trivial
HOT_SPLIT_K = 1024


def hot_key_split_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    hot_by: str,
    hot_k: int = HOT_SPLIT_K,
) -> DataFrame:
    """Skew-proof INNER join of an instance-scale, Zipf-skewed
    ``left`` against an aggregated per-key ``right`` (VERDICT r11
    item 6): the ``hot_k`` hottest right rows (largest ``hot_by`` —
    under Zipf these carry most of the instance mass) ride a
    broadcast, so the hot instances NEVER shuffle; only the long cold
    tail — whose per-key multiplicity is bounded by the coldest hot
    key's count — takes the shuffle join, with the hot keys
    anti-filtered out via the same broadcast.

    Results are EXACTLY the plain join's for any hot/cold boundary
    (every instance matches the identical right row on exactly one
    side) — PROVIDED both paths agree on the boundary. The ``hot``
    plan is evaluated twice (broadcast for the hot inner join, and
    again — different projection, so no exchange reuse — for the
    left_anti key filter), so the rank-``hot_k`` cut MUST be a total
    order: ``orderBy(desc(hot_by))`` alone is nondeterministic under
    ties (shuffle fetch order), and a boundary key resolving
    differently across the two evaluations would be duplicated (in
    both paths) or dropped (in neither). We therefore break ties on
    the join keys themselves — ``right`` is an aggregated per-key
    table, so ``(hot_by DESC, *on)`` is strict and both evaluations
    pick the identical set (ADVICE r12 high;
    tests/test_skew.py::test_hot_split_join_tie_boundary_exact).
    The double evaluation is deliberate: materializing ``hot`` once
    (localCheckpoint / driver collect) would take an action at plan-
    construction time, the exact leaked-block pattern the r12 bench
    autopsy removed (SCALING.md §r12). When the right side is
    broadcastable whole, prefer a plain broadcast join; this
    is for vocabulary-scale right sides (e.g. a 100 TB corpus's
    bigram count table) where only the hot slice fits a broadcast."""
    hot = right.orderBy(F.desc(hot_by), *on).limit(hot_k)
    hot_side = left.join(F.broadcast(hot), on)
    cold = left.join(F.broadcast(hot.select(*on)), on, "left_anti")
    return hot_side.unionByName(cold.join(right, on))


# ---------------------------------------------------------------------------
# Registry entry: skew-proof aggregation over the (skewed) events table
# ---------------------------------------------------------------------------

def events_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats via salted two-phase aggregation — same
    result as a direct groupBy (the oracle), immune to one event type
    dominating the stream."""
    ev = load_table(spark, sf_dir, "events")
    pre = ev.withColumn("_v", F.round(F.col("value") * 100).cast("long"))
    out = salted_agg(
        pre,
        key="event_type",
        aggs={
            "n": (F.count("*"), F.sum),
            "sum_scaled": (F.sum("_v"), F.sum),
            "max_value": (F.max("value"), F.max),
        },
    )
    return out.select(
        "event_type",
        "n",
        (F.col("sum_scaled").cast("double") / F.lit(100.0)).alias("sum_value"),
        "max_value",
    )


QUERIES = {
    "events_salted_type_stats": events_salted_type_stats,
}

ORACLE = {
    "events_salted_type_stats": f"""
        SELECT event_type,
               COUNT(*) AS n,
               {ex.sql_sum('value', 2)} AS sum_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY event_type
    """,
}
