"""Generalized ordered-funnel analysis over event streams.

`plans.advanced_queries.funnel_signup_view_purchase` hand-writes the
3-stage shape; this operator takes ANY ordered step list. Semantics:
a user completes step i when their earliest qualifying step-i event
STRICTLY follows their step-(i-1) completion time (the standard
product-analytics ordered funnel). ``max_gap_seconds`` optionally
bounds each hop (conversion windows: "purchase within 24h of view");
None keeps the unbounded semantics.

Shape: one conditional-min aggregation per step, chained by per-user
joins. Every intermediate is <= one row per user and shrinks
monotonically with each step, so at 100 TB the dominant cost is the
first stage's scan; later stages join ever-smaller per-user frames
(broadcast once below the threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hop_filter(type_col, ts_col, step, max_gap_seconds):
    cond = (F.col(type_col) == step) & (F.col(ts_col) > F.col("__t"))
    if max_gap_seconds is not None:
        cond = cond & (
            F.col(ts_col)
            <= F.col("__t") + F.expr(f"INTERVAL {int(max_gap_seconds)} SECONDS")
        )
    return cond


def ordered_funnel_df(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Per-step completion counts for the ordered ``steps`` list: one
    row per step, ``(step_index, step, n_users)``, where ``n_users``
    counts users whose funnel reached that step in order. Fully lazy:
    the per-step counts are unioned aggregates of one deferred
    DataFrame, with no driver-side action."""
    if not steps:
        raise ValueError("steps must be non-empty")
    stage = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    )
    outs = [
        stage.agg(
            F.lit(0).cast("int").alias("step_index"),
            F.lit(steps[0]).alias("step"),
            F.count("*").alias("n_users"),
        )
    ]
    for i, step in enumerate(steps[1:], start=1):
        stage = (
            events.join(stage, user_col)
            .filter(_hop_filter(type_col, ts_col, step, max_gap_seconds))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t"))
        )
        outs.append(
            stage.agg(
                F.lit(i).cast("int").alias("step_index"),
                F.lit(step).alias("step"),
                F.count("*").alias("n_users"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
