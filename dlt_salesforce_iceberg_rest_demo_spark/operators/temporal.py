"""Temporal operators the reference's event-shaped data implies:
gap-based sessionization and as-of joins.

Both are single-shuffle window compositions - the Spark-native shapes
for operators Spark "lacks" as primitives (pyspark guide: as-of via
union + last; sessionization via lag + cumsum)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import full_width


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since the
    user's previous event exceeds ``gap_minutes``.

    lag -> boundary flag -> running sum = session index: one shuffle
    on user_id, two window passes over the same sort - Catalyst reuses
    the sort. Per-session aggregation rides the same partitioning.
    """
    order = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_micros = gap_minutes * 60 * 1_000_000
    # unix_micros, not cast("long"): second-floor truncation would move
    # the gap boundary by up to 1s vs an exact interval comparison.
    with_bound = events.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col(ts_col))
            - F.unix_micros(F.lag(F.col(ts_col)).over(order))
            > gap_micros,
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    running = Window.partitionBy(user_col).orderBy(ts_col, id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return with_bound.withColumn(
        "session_idx", F.sum("new_session").over(running)
    ).drop("new_session")


def session_stats(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-session rollup: bounds, event count, value sum."""
    s = sessionize(events, gap_minutes, user_col, ts_col, id_col)
    return s.groupBy(user_col, "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("session_value"),
    )


def gapfill(
    events: DataFrame,
    grain: str = "hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-series gap-fill (hypertable ``time_bucket_gapfill`` analog):
    per key, a dense time grid at ``grain`` between the key's first and
    last bucket, with empty buckets carrying 0 events and a
    forward-filled value.

    Shape: bucket-aggregate (one shuffle on (key, bucket)), per-key
    span, ``sequence()``+``explode`` to densify - the grid is generated
    distributed, per key, never on the driver - then a left join back
    and one window pass of ``last(ignorenulls)`` for the fill. The join
    and window share the key partitioning. Grid size is bounded by
    span/grain per key, independent of input row count - the 100 TB
    behavior is dominated by the first bucket aggregation.

    The spans relation is explicitly hash-repartitioned on the key
    at full width BEFORE the explode: spans is tiny in BYTES (one row
    per key), so AQE's byte-based coalescing would otherwise collapse
    it to one task and the interval-sequence explode — the CPU-heavy
    step, ~700 rows generated per input row on the fixtures — plus
    the whole downstream join+window would run serially (observed:
    the full query funneled through 1 task; the round-4/5
    one-task-stage signature). An explicit-width hash repartition is
    exempt from coalescing (`materialize.full_width`), and because it is
    on the window/join key it satisfies both downstream distribution
    requirements — no extra exchange anywhere in the plan.
    """
    bucket = F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts")
    b = events.groupBy(F.col(user_col), bucket).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("bucket_value"),
    )
    spans = b.groupBy(user_col).agg(
        F.min("bucket_ts").alias("__lo"), F.max("bucket_ts").alias("__hi")
    )
    grid = spans.repartition(
        full_width(events.sparkSession), F.col(user_col)
    ).select(
        user_col,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL 1 {grain}"))
        ).alias("bucket_ts"),
    )
    joined = grid.join(b, [user_col, "bucket_ts"], "left")
    w = (
        Window.partitionBy(user_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        user_col,
        "bucket_ts",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        "bucket_value",
        F.last("bucket_value", ignorenulls=True).over(w).alias("filled_value"),
    )


def gapfill_interpolate(
    events: DataFrame,
    grain: str = "hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-fill with LINEAR INTERPOLATION between known buckets (the
    hypertable ``interpolate()`` analog; `gapfill` does LOCF).

    Same densify shape as `gapfill` (bucket agg -> per-key span ->
    distributed sequence()/explode grid -> left join, with the same
    explicit full-width key-repartition of spans before the explode —
    see `gapfill` for the AQE one-task rationale), then two window
    passes: backward-looking last-known (value, ts) on the ASC sort,
    and the forward-looking next-known pair as last(ignorenulls) over
    a DESC-ordered RUNNING frame — deliberately NOT
    first(ignorenulls) over (CURRENT ROW, UNBOUNDED FOLLOWING):
    Spark's UnboundedFollowing frame re-scans from each row to the
    partition end, O(rows^2) per key (measured ~12 s single-task on
    1M grid rows where the running-frame twin took ~0.4 s), while a
    DESC running frame is the same values in O(rows). One exchange,
    two sorts. The interpolation ``prev + (next - prev) * frac`` is a
    fixed sequence of IEEE ops on engine-identical inputs, so the
    DuckDB oracle reproduces it bit-for-bit; edge buckets clamp to
    the nearest known value.
    """
    bucket = F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts")
    b = events.groupBy(F.col(user_col), bucket).agg(
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("bucket_value"),
    )
    spans = b.groupBy(user_col).agg(
        F.min("bucket_ts").alias("__lo"), F.max("bucket_ts").alias("__hi")
    )
    grid = spans.repartition(
        full_width(events.sparkSession), F.col(user_col)
    ).select(
        user_col,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL 1 {grain}"))
        ).alias("bucket_ts"),
    )
    joined = grid.join(b, [user_col, "bucket_ts"], "left")
    back = (
        Window.partitionBy(user_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward fill expressed as a DESC running frame: same values as
    # first(ignorenulls) over (CURRENT ROW, UNBOUNDED FOLLOWING) but
    # O(rows) per partition instead of Spark's O(rows^2)
    # UnboundedFollowing rescan (both frames include the current row)
    fwd = (
        Window.partitionBy(user_col)
        .orderBy(F.col("bucket_ts").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    known_ts = F.when(F.col("bucket_value").isNotNull(), F.col("bucket_ts"))
    w = joined.select(
        user_col,
        "bucket_ts",
        "bucket_value",
        F.last("bucket_value", ignorenulls=True).over(back).alias("__pv"),
        F.last(known_ts, ignorenulls=True).over(back).alias("__pt"),
        F.last("bucket_value", ignorenulls=True).over(fwd).alias("__nv"),
        F.last(known_ts, ignorenulls=True).over(fwd).alias("__nt"),
    )
    frac = (
        (F.unix_micros(F.col("bucket_ts")) - F.unix_micros(F.col("__pt")))
        .cast("double")
        / (F.unix_micros(F.col("__nt")) - F.unix_micros(F.col("__pt"))).cast("double")
    )
    interp = (
        F.when(F.col("bucket_value").isNotNull(), F.col("bucket_value"))
        .when(F.col("__pv").isNull(), F.col("__nv"))
        .when(F.col("__nv").isNull(), F.col("__pv"))
        .otherwise(F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac)
    )
    return w.select(
        user_col, "bucket_ts", "bucket_value", interp.alias("interp_value")
    )


def multi_grain_rollup(
    events: DataFrame,
    grains: tuple[str, ...] = ("minute", "hour", "day"),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: event counts and
    value sums at several time grains in ONE scan.

    GROUPING SETS over the truncated timestamps makes Spark expand the
    grains inside a single shuffle (Expand operator feeding one
    hash-aggregate) instead of N scans + union - the shape that matters
    when the input is 100 TB and the scan dominates. Output carries a
    ``grain`` label derived from GROUPING() masks, so downstream reads
    can filter to one resolution with a cheap predicate.
    """
    truncs = {g: f"__g_{g}" for g in grains}
    df = events
    for g, c in truncs.items():
        df = df.withColumn(c, F.date_trunc(g, F.col(ts_col)))
    df.createOrReplaceTempView("mg_rollup_src")
    sets = ", ".join(f"({c})" for c in truncs.values())
    label = " ".join(
        f"WHEN GROUPING({c}) = 0 THEN '{g}'" for g, c in truncs.items()
    )
    coalesce_bucket = "COALESCE(" + ", ".join(truncs.values()) + ")"
    return df.sparkSession.sql(
        f"""
        SELECT CASE {label} END AS grain,
               {coalesce_bucket} AS bucket_ts,
               COUNT(*) AS n_events,
               CAST(SUM(CAST({value_col} AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_value
        FROM mg_rollup_src
        GROUP BY GROUPING SETS ({sets})
        """
    )


def _floordiv(col, width: int):
    """Exact floor-division of a long column by a positive long literal.

    `(a - pmod(a, w)) / w`: the numerator is an exact multiple of w, so
    the double division is exact (values < 2^53) and trunc == floor even
    for negative a (pmod is a floor-mod).
    """
    return ((col - F.pmod(col, F.lit(width))) / F.lit(width)).cast("long")


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: float = -1800.0,
    upper_seconds: float = 0.0,
    on: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Range (band) join: all (l, r) pairs with
    ``l.ts + lower <= r.ts <= l.ts + upper`` (inclusive), optionally
    AND-ed with equi-keys ``on``.

    Spark has no range-join primitive; the naive encoding is a theta
    join = broadcast-nested-loop = O(|L|x|R|) - dead at scale. The
    scale shape used here is *bucketization* (the same trick behind
    Databricks' range-join optimization and Flink's interval join):

    - pick bucket width w = band span, so each left row's window
      ``[ts+lower, ts+upper]`` covers at most 2 consecutive buckets;
    - explode left into those bucket ids (<=2 rows), map right to its
      single bucket ``floor(ts/w)``;
    - equi-join on (bucket, *on) - a plain shuffle-hash/SMJ that
      partitions both sides - then re-check the exact band predicate.

    Each right row lands in exactly one bucket, so no pair dedup is
    needed. Cost: <=2x left shuffle volume instead of a cross product;
    per-bucket fan-out is bounded by data density per span, which AQE's
    skew splitting handles if a bucket runs hot.
    """
    lo = int(lower_seconds * 1_000_000)
    hi = int(upper_seconds * 1_000_000)
    if hi < lo:
        raise ValueError("upper_seconds must be >= lower_seconds")
    width = max(hi - lo, 1)
    on = on or []

    overlap = set(left.columns) & set(right.columns)
    r = right
    for c in overlap:
        if c not in on:
            r = r.withColumnRenamed(c, f"{c}{suffix}")
    r_ts = f"{right_ts}{suffix}" if right_ts in overlap and right_ts not in on else right_ts

    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(r_ts))
    l_exp = left.withColumn(
        "__bucket",
        F.explode(F.sequence(_floordiv(l_us + lo, width), _floordiv(l_us + hi, width))),
    )
    r_b = r.withColumn("__bucket", _floordiv(r_us, width))
    joined = l_exp.join(r_b, ["__bucket", *on]).filter(
        (r_us >= l_us + lo) & (r_us <= l_us + hi)
    )
    return joined.drop("__bucket")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    tie_col: str | None = None,
) -> DataFrame:
    """As-of join: for every left row, the latest right row with
    ``right.ts <= left.ts`` within the same ``on`` group (DuckDB
    `ASOF JOIN`, pandas `merge_asof` semantics, inclusive).

    Spark-native shape: union the two streams tagged, sort once per
    group on (ts, side) - right rows sort before left rows at equal
    timestamps so inclusivity holds - and carry the last seen right
    payload forward with ``last(ignorenulls)``. ONE shuffle on the
    group key, no range self-join, no per-group Python; this is the
    pattern that survives 100 TB where a naive theta-join explodes.

    When several RIGHT rows share one timestamp inside a group, which
    payload is "latest" is partition-order-dependent; pass ``tie_col``
    (a right column, HIGHEST value wins; NULL tie values rank below
    every non-NULL value — :func:`asof_join_forward` instead breaks
    toward the smallest id) to make it deterministic. Without ties
    the parameter changes nothing.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    tie_exprs_r = (
        [F.col(tie_col).alias("__tie")] if tie_col is not None else []
    )
    tie_exprs_l = (
        [F.lit(None).cast(right.schema[tie_col].dataType).alias("__tie")]
        if tie_col is not None
        else []
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *tie_exprs_r,
        F.struct(
            F.col(right_ts).alias(f"{right_ts}{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        ).alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on],
    )
    l_tagged = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *tie_exprs_l,
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c) for c in left.columns if c != on],
    )
    unioned = r.select(l_tagged.columns).unionByName(l_tagged)
    # Tie order only matters WITHIN the right side at one timestamp:
    # __side already segregates left rows (they sort after every right
    # row at the same instant regardless of __tie). ``last()`` carries
    # the row that sorts LAST, so ascending order makes the highest
    # value win — and nulls_FIRST makes a right row whose tie value is
    # NULL lose to every valued tie (nulls_last would let it win).
    order = ["__ts", "__side"] + (
        [F.col("__tie").asc_nulls_first()] if tie_col is not None else []
    )
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__last_payload", F.last("__payload", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1).select(
        F.col(on),
        *[F.col(c) for c in left.columns if c != on],
        F.col("__last_payload").alias("__p"),
    )
    payload_fields = [f.name for f in r.schema["__payload"].dataType.fields]
    return out.select(
        on,
        *[c for c in left.columns if c != on],
        *[F.col(f"__p.{f}").alias(f) for f in payload_fields],
    )


def ewma(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key exponentially weighted moving average, ordered by time:
    ``y_0 = x_0; y_t = alpha*x_t + (1-alpha)*y_{t-1}``.

    The recursion is inherently sequential per key - not expressible
    with Spark window frames (which aggregate, not fold). The Spark
    shape: one shuffle on the key, then an Arrow-batched per-group
    pandas fold (`applyInPandas`). State per group is O(1); group
    sizes are per-entity event counts, bounded at any corpus scale.

    Returns ``key, ts, value, ewma`` (input row count preserved).
    """
    import pandas as pd

    out_fields = []
    for name in (key_col, ts_col, value_col):
        out_fields.append(df.schema[name])
    from pyspark.sql import types as T

    schema = T.StructType(out_fields + [T.StructField("ewma", T.DoubleType())])

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        # Explicit recursion with a PINNED float-op sequence
        # (acc = alpha*x + (1-alpha)*acc): every engine that replays
        # these exact IEEE ops — e.g. a SQL recursive CTE — reproduces
        # the result bit-for-bit, which pandas' ewm C kernel (its own
        # weighted-average state updates) does not guarantee.
        vals = pdf[value_col].to_numpy(dtype="float64")
        out = np.empty_like(vals)
        if len(vals):
            acc = vals[0]
            out[0] = acc
            one_minus = 1.0 - alpha
            for i in range(1, len(vals)):
                acc = alpha * vals[i] + one_minus * acc
                out[i] = acc
        pdf["ewma"] = out
        return pdf[[key_col, ts_col, value_col, "ewma"]]

    return (
        df.select(key_col, ts_col, value_col)
        .groupBy(key_col)
        .applyInPandas(fold, schema)
    )


def max_interval_concurrency(
    df: DataFrame,
    ts_col: str = "ts",
    duration_minutes: int = 30,
    bucket_grain: str = "hour",
) -> DataFrame:
    """Max concurrent intervals ([ts, ts + duration)) via the
    distributed sweep line — see `interval_max_concurrency` in the
    registry for the full scale narrative (two-level prefix sum:
    within-bucket running sums + tiny cross-bucket offset window).
    Returns one row (max_concurrent, at_tick) with at_tick the
    earliest instant the peak is reached; -1 sorts an interval end
    before a start at the same instant (half-open semantics)."""
    e = df.select(ts_col)
    d = e.select(F.col(ts_col).alias("tick"), F.lit(1).alias("delta")).unionAll(
        e.select(
            (
                F.col(ts_col) + F.expr(f"INTERVAL {duration_minutes} MINUTES")
            ).alias("tick"),
            F.lit(-1).alias("delta"),
        )
    )
    d = d.withColumn("bucket", F.date_trunc(bucket_grain, F.col("tick")))
    wb = (
        Window.partitionBy("bucket")
        .orderBy("tick", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = d.withColumn("run", F.sum("delta").over(wb))
    per_bucket = run.groupBy("bucket").agg(
        F.sum("delta").alias("net"),
        F.max(
            F.struct(
                F.col("run").alias("peak"),
                (-F.unix_micros(F.col("tick"))).alias("neg_us"),
            )
        ).alias("pk"),
    )
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    peaks = per_bucket.withColumn(
        "offset", F.coalesce(F.sum("net").over(wo), F.lit(0))
    ).select(
        (F.col("offset") + F.col("pk.peak")).alias("peak"),
        F.col("pk.neg_us").alias("neg_us"),
    )
    return peaks.agg(
        F.max(F.struct(F.col("peak"), F.col("neg_us"))).alias("g")
    ).select(
        F.col("g.peak").cast("long").alias("max_concurrent"),
        F.timestamp_micros(-F.col("g.neg_us")).alias("at_tick"),
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tie_col: str | None = None,
    tolerance_seconds: int | None = None,
    suffix: str = "_next",
) -> DataFrame:
    """FORWARD as-of join: for every left row, the EARLIEST right row
    with ``right.ts >= left.ts`` in the same ``on`` group, optionally
    within ``tolerance_seconds`` — the lookahead twin of
    :func:`asof_join` (time-to-next-event, next-fill attribution,
    forward pandas ``merge_asof``; DuckDB's ASOF JOIN is
    backward-only, so the oracle for this shape is a bounded range
    join + ROW_NUMBER pick).

    Same one-shuffle union-sort-carry execution as the backward join,
    run in REVERSE time order: right rows sort before left rows at
    equal timestamps (inclusive >=), and when several right rows share
    a timestamp the ``tie_col`` (e.g. the event id) breaks the tie
    DETERMINISTICALLY toward the smallest — ``last(ignorenulls)`` over
    an ambiguous order would otherwise carry a partition-dependent
    payload, which the backward join tolerates only because fixture
    timestamps are unique per key. The tolerance is applied AFTER the
    carry as a pure column predicate (payload nulled beyond the
    horizon) — no second join, no range blow-up.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    tie = F.col(tie_col) if tie_col else F.lit(0)
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        (-tie).cast("long").alias("__tie"),
        F.struct(
            F.col(right_ts).alias(f"{right_ts}{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        ).alias("__payload"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c != on
        ],
    )
    l_tagged = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(0).cast("long").alias("__tie"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c) for c in left.columns if c != on],
    )
    unioned = r.select(l_tagged.columns).unionByName(l_tagged)
    # Reverse time: descending ts; at equal ts left (__side 1) sorts
    # AFTER right (__side 0) ... but we need the carry to have seen the
    # right row already, so order (ts DESC, side ASC is wrong for
    # equal-ts inclusivity under last()): with ts DESC, rows later in
    # the frame are EARLIER in time; the payload carried at a left row
    # must come from right rows at ts >= left.ts, i.e. rows sorted
    # BEFORE it. At equal ts the right row must sort before the left
    # row -> __side ASC. Among equal-ts right rows, the LAST seen wins
    # under last(); sorting __tie = -id ASC puts the smallest id last.
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").desc(), F.col("__side").asc(), F.col("__tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__next_payload", F.last("__payload", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1)
    payload_fields = [f.name for f in r.schema["__payload"].dataType.fields]
    p = F.col("__next_payload")
    if tolerance_seconds is not None:
        horizon = F.unix_micros(p[f"{right_ts}{suffix}"]) - F.unix_micros(
            F.col("__ts")
        ) <= F.lit(int(tolerance_seconds) * 1_000_000)
        p = F.when(horizon, F.col("__next_payload"))
    return out.select(
        on,
        *[c for c in left.columns if c != on],
        *[p[f].alias(f) for f in payload_fields],
    )
