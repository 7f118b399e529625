"""Weekly time-series operators (SURVEY §2.7 W1–W7).

The reference builds its codes×weeks frequency matrix with a per-week
re-scan of the whole metadata table inside a Python loop, then repeats
everything once per continent (Time_Series.py:731–788, 309–365). All of
that collapses into single-pass grouped aggregations here:

- one ``groupBy(week, key)`` replaces the W-per-week loop (O(W·N) → O(N));
- ``rollup``/``cube`` on the region column replaces the hand-rolled
  "each continent plus Global/Worldwide" outer loop
  (Time_Series.py:309–314, 867–869);
- the percentage table is a window aggregate over the week partition
  instead of a second pandas pass (Time_Series.py:790–811);
- zero-count weeks come from a generated week spine + left join
  (Time_Series.py:757–761 emits them explicitly).

Data stays LONG (`key, week_start, freq`); the reference's wide
codes×weeks layout is produced only at the sink via ``pivot`` (SURVEY
§1.1.5). At 100 TB the long form is the only shape that shuffles sanely —
a wide pivot with thousands of week columns would be a driver-side bomb.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.weeks import sunday_week_start, week_label


def weekly_frequency(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """W2 — per-week per-key frequency, long form.

    Single shuffle on (week_start, key). Rows outside [start, end] are
    dropped, matching the reference's implicit behavior (its week filter
    simply never matches them; SURVEY §2.7 note).
    """
    week = sunday_week_start(F.col(ts_col)).alias("week_start")
    out = df.select(week, F.col(key_col).alias("key"))
    if start is not None:
        out = out.filter(F.col("week_start") >= F.to_date(F.lit(start)))
    if end is not None:
        out = out.filter(F.col("week_start") <= F.to_date(F.lit(end)))
    return out.groupBy("week_start", "key").agg(F.count(F.lit(1)).alias("freq"))


def weekly_totals(df: DataFrame, ts_col: str) -> DataFrame:
    """The ``Total_Genomes`` synthetic row of the reference's matrix
    (Time_Series.py:738, 755) as a per-week total — long form."""
    return (
        df.select(sunday_week_start(F.col(ts_col)).alias("week_start"))
        .groupBy("week_start")
        .agg(F.count(F.lit(1)).alias("total"))
    )


def weekly_percentage(freq_long: DataFrame) -> DataFrame:
    """W4 — freq / week total via a window aggregate (no second scan),
    divide-by-zero guarded like the reference (Time_Series.py:798–803)."""
    w = Window.partitionBy("week_start")
    total = F.sum("freq").over(w)
    return freq_long.withColumn(
        "pct",
        F.when(total == 0, F.lit(0.0)).otherwise(F.col("freq") / total),
    )


def with_week_labels(df: DataFrame, week_col: str = "week_start") -> DataFrame:
    """W7 — dense week numbering + the reference's label format
    (Time_Series.py:772). ``dense_rank`` over the distinct week ordering
    reproduces "Week1..WeekN" numbering without knowing the range."""
    w = Window.orderBy(week_col)
    n = F.dense_rank().over(w)
    return df.withColumn("week_number", n).withColumn(
        "week_label", week_label(F.col(week_col), F.col("week_number"))
    )


def weekly_combination_frequency(
    df: DataFrame, ts_col: str, items_col: str
) -> DataFrame:
    """W3 — per-week counts keyed by the full comma-joined combination
    (Time_Series.py:927–987). The combination string is built with
    ``array_join`` over a *sorted* array — the reference keeps first-seen
    file order, which is nondeterministic distributed; we sort within the
    list for stable equality (documented deviation, SURVEY §7 risk list).
    """
    return (
        df.select(
            sunday_week_start(F.col(ts_col)).alias("week_start"),
            F.array_join(F.array_sort(F.col(items_col)), ",").alias("combo"),
        )
        .groupBy("week_start", "combo")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def counts_by_region_rollup(
    df: DataFrame, ts_col: str, region_col: str, total_label: str = "Worldwide"
) -> DataFrame:
    """W5 — sequences per continent per week plus the Worldwide rollup row
    (Time_Series.py:839–909) in ONE grouped pass.

    Needed grouping sets: ((region, week), (week)). ``cube`` computes all
    four subsets in one shuffle; keeping only rows where week is grouped
    leaves exactly those two. ``grouping()`` (not NULL-ness) identifies the
    rollup member so genuinely-NULL regions aren't mislabeled.
    """
    week = sunday_week_start(F.col(ts_col)).alias("week_start")
    return (
        df.select(F.col(region_col).alias("region"), week)
        .cube("region", "week_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("region").alias("_gr"),
            F.grouping("week_start").alias("_gw"),
        )
        .filter(F.col("_gw") == 0)
        .withColumn(
            "region",
            F.when(F.col("_gr") == 1, F.lit(total_label)).otherwise(F.col("region")),
        )
        .drop("_gr", "_gw")
    )


def scd2_history(events: DataFrame) -> DataFrame:
    """SCD Type-2 history build (the lakehouse MERGE pattern, batch
    form): compact each user's event-type stream to its CHANGE points
    (event_type differs from the previous row under the (ts, event_id)
    total order), then assign [valid_from, valid_to) validity via
    lead(); NULL valid_to marks the current row. Bounds are epoch micros
    (integers — timestamp objects drift 1µs between engines).

    Shared by the batch query (queries/windows.py:window_scd2_history)
    and the r8 streaming CDC upsert twin (streaming/cdc.py) so both
    paths are the same code by construction. Both windows are
    user-partitioned (parallel per user, never global); the
    change-compaction SHRINKS the stream before the second window."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
        .drop("prev")
    )
    return ch.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    ).withColumn("is_current", F.col("valid_to_us").isNull())
