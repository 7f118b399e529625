"""K5 — heatmap shading (reference Time_Series.py:813–837).

The reference collects the percentage pivot into pandas and writes a
``Styler.background_gradient`` .xlsx. The painting is presentation, not
engine; what the engine owns is the gradient's data contract, computed
distributed on the long percentage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gradient_shades(
    pct_long: DataFrame,
    key_col: str = "key",
    value_col: str = "pct",
    buckets: int = 4,
) -> DataFrame:
    """The heatmap's DATA contract (the part of K5 that is engine, not
    paint): per-column min–max normalization exactly as
    ``Styler.background_gradient(subset=value_cols)`` computes it, folded
    to ``buckets`` discrete shade labels ``q0..q{buckets-1}``. Runs on the
    LONG percentage table (one window per key column, partitioned — the
    wide pivot stays a sink-side step); a constant column (max == min)
    shades q0."""
    w = Window.partitionBy(key_col)
    lo, hi = F.min(value_col).over(w), F.max(value_col).over(w)
    bucket = F.when(hi == lo, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(value_col) - lo) * buckets / (hi - lo)).cast("int"),
            F.lit(buckets - 1),
        )
    )
    return pct_long.withColumn(
        "shade", F.concat(F.lit("q"), bucket.cast("string"))
    )
