"""The benchmark's workloads: which registered queries run, at which scale.

Each workload is one closed-loop client on ``local[nproc]``: it builds a
query (``registry.queries()[name](spark, data_dir)``), writes it to the
``noop`` sink, and only then starts the next one. A pass runs every query
of the workload once; the run seed shuffles the order of each pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="surveillance_report",
            scale=0.01,
            queries=(
                "variant_call_kernel",
                "ts_weekly_freq_matrix",
                "ts_weekly_percentage",
                "ts_zero_week_spine",
                "flagship_weekly_prevalence_topn",
                "reshape_pivot_wide",
                "heatmap_table",
                "filter_x_content",
                "funnel_stage_counts",
            ),
            why=(
                "the paper's batch reports: the mapInPandas variant caller plus "
                "weekly frequency, prevalence and pivot tables, so exec and "
                "Python-worker time dominate"
            ),
        ),
        Workload(
            name="query_fanout",
            scale=0.01,
            queries=(
                "agg_group_sum",
                "agg_approx_percentile",
                "window_moving_average",
                "join_large_equi",
                "join_broadcast_dims",
                "filter_regex",
                "topk_by_revenue",
                "tpch_q3_shipping_priority",
                "ts_sessionize",
            ),
            why=(
                "many small oracle-checked relational queries, so per-query "
                "fixed costs (schema inference, planning, job scheduling) dominate"
            ),
        ),
    )
}
