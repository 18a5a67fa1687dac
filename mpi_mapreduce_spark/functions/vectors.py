"""Vector column functions over ``array<float>`` embeddings.

Dot products and norms are native ``zip_with`` / ``aggregate``
expressions — JVM-evaluated, no Python per row. Elements are cast to
double *before* any arithmetic so results are reproducible against the
DuckDB oracle (float32 accumulation would diverge in the last ulps).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i — sequential left fold in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Arrow-vectorized variants — the hot path.
#
# Spark evaluates higher-order functions (aggregate/zip_with/transform
# lambdas) in the INTERPRETED expression path, outside whole-stage
# codegen — measured ~400µs per dim-64 dot. (Unrolling element_at
# chains is NOT the fix: Catalyst analysis on thousand-node expression
# trees took seconds and OOM'd the driver when plans nest.) The right
# escape hatch is a Pandas UDF over Arrow batches. Bit-exactness with
# the HOF left fold is preserved because ``np.cumsum`` IS a strict
# sequential left fold — ((0 + p1) + p2) + ... — unlike ``np.sum``'s
# pairwise tree, so the DuckDB oracle hash (which folds the same way
# via list_dot_product) is unaffected.
#
# UDFs are closures (cloudpickle by-value): the driver's Python
# workers can't import this package.
# ---------------------------------------------------------------------------

def dot_arrow(a: Column, b: Column) -> Column:
    """Σ a_i * b_i, Arrow-batched; bit-identical to dot()."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(xs, ys):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.Series([], dtype="float64")
        mx = np.vstack(xs.to_numpy())
        my = np.vstack(ys.to_numpy())
        # cumsum = sequential left fold (bit-equal to F.aggregate)
        return pd.Series(np.cumsum(mx * my, axis=1)[:, -1])

    return _dot(a, b)


def normalize_arrow(a: Column) -> Column:
    """a / ||a|| (unchanged if zero-norm), Arrow-batched; bit-identical
    to normalize(): same left-fold norm, same per-element division."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def _norm(xs):
        import numpy as np
        import pandas as pd

        if len(xs) == 0:
            return pd.Series([], dtype="object")
        m = np.vstack(xs.to_numpy()).astype(np.float64)
        n = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
        safe = np.where(n > 0, n, 1.0)
        return pd.Series(list(m / safe[:, None]))

    return _norm(a)
