"""Time-series / warehouse-maintenance tranche: OHLC downsampling bars,
sweep-line interval concurrency, rolling-median windows, CDC changelog
apply, weighted priority sampling, canonical-URL dedup.

The reference has no analytics executor (SURVEY.md §2.7); these extend
the engine along the driver's north-star axes — time-series rollups a
telemetry lake needs, the CDC-apply inverse of the lake's snapshot
`diff` (``sinks/dispositions.py``), and two web-corpus staples
(weighted document sampling, URL canonicalization dedup).

Determinism follows the house rules (registry module docstring): exact
integer arithmetic for anything summed or ranked, md5-derived uniforms
for sampling, single-row picks (argmin/argmax over structs) for floats
so no float is ever re-accumulated in engine-specific order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._helpers import empty_frame, t
from .registry import register

# ---------------------------------------------------------------------------
# OHLC downsampling bars (time-series rollup).
# ---------------------------------------------------------------------------


@register(
    "timeseries_ohlc_hourly",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('hour', ts) AS bar_hour, ts, event_id, value
      FROM events),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, bar_hour
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, bar_hour
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e)
    SELECT user_id, bar_hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, bar_hour
    """,
)
def timeseries_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling bars per (user, hour): open/close are the
    first/last value by (ts, event_id), high/low are min/max. Open and
    close are partial-aggregatable ARGMIN/ARGMAX (min/max of a
    (ts, event_id, value) struct) — one map-side-combinable aggregation,
    NO window sort over raw events, unlike the oracle's ROW_NUMBER
    formulation. Every output float is a single picked row value or an
    exact min/max, never a float re-accumulation, so the hash-compare
    is safe. At 100 TB this is the canonical telemetry downsample: one
    shuffle on (user, hour), combiners collapse each bar before it
    moves."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        "ts",
        "event_id",
        "value",
    )
    g = e.groupBy("user_id", "bar_hour").agg(
        F.min(F.struct("ts", "event_id", "value")).alias("o"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(F.struct("ts", "event_id", "value")).alias("c"),
        F.count("*").alias("n_events"),
    )
    return g.select(
        "user_id",
        "bar_hour",
        F.col("o.value").alias("open_value"),
        "high_value",
        "low_value",
        F.col("c.value").alias("close_value"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Sweep-line max interval concurrency (two-level distributed prefix sum).
# ---------------------------------------------------------------------------


@register(
    "interval_max_concurrency",
    oracle="""
    WITH d AS (
      SELECT ts AS tick, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL 30 MINUTE AS tick, -1 AS delta FROM events),
    r AS (
      SELECT tick, delta,
             SUM(delta) OVER (ORDER BY tick, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM d)
    SELECT CAST(m.mx AS BIGINT) AS max_concurrent, MIN(r.tick) AS at_tick
    FROM r, (SELECT MAX(conc) AS mx FROM r) m
    WHERE r.conc = m.mx GROUP BY m.mx
    """,
)
def interval_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent sessions (each event opens a [ts, ts+30min)
    interval) via a sweep line — the classic +1/-1 delta running sum.
    A global running sum would serialize onto one partition, so this is
    the TWO-LEVEL distributed prefix sum: (1) running sums within
    hour buckets (window partitioned by bucket — bounded state), (2) a
    tiny window over per-bucket NET sums yields each bucket's starting
    offset (rows = number of hours, not number of events), (3) global
    peak = max(offset + within-bucket peak). Tie rules match the
    oracle's ORDER BY (tick, delta): a -1 sorts before a +1 at the same
    instant (half-open intervals), and the earliest tick achieving the
    peak is reported (argmax over (peak, -micros) structs — exact
    integers end-to-end). This decomposition is how any cumulative
    metric (running balance, concurrency, inventory) scales: per-bucket
    windows grow with bucket width, the cross-bucket window only with
    the time span."""
    from ..operators.temporal import max_interval_concurrency

    return max_interval_concurrency(
        t(spark, sf_dir, "events"), ts_col="ts", duration_minutes=30
    )


# ---------------------------------------------------------------------------
# Rolling median (order statistic over a bounded row frame).
# ---------------------------------------------------------------------------


@register(
    "window_rolling_median",
    oracle="""
    SELECT user_id, event_id, value,
           MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             AS roll_median
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of the last 5 events per user. Spark has no
    MEDIAN window aggregate, so the frame is materialized as a sorted
    array (collect_list over a BOUNDED row frame — O(k) state per row,
    k=5) and the order statistic is picked by index; the even-count
    interpolation ((a+b)/2) is the single identical IEEE op sequence
    DuckDB's windowed MEDIAN uses (verified: 0/1000 mismatch vs its
    list-reconstruction on the fixtures). Same pattern as
    `window_rolling_distinct_types`: any order-statistic window Spark
    lacks is expressible as array-of-frame + element pick, and stays
    scalable exactly while the frame is bounded."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    df = e.select("user_id", "event_id", "value", "ts").withColumn(
        "arr", F.array_sort(F.collect_list("value").over(w))
    )
    med = F.expr(
        "CASE WHEN size(arr) % 2 = 1"
        "  THEN element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))"
        "  ELSE (element_at(arr, CAST(size(arr) DIV 2 AS INT))"
        "        + element_at(arr, CAST(size(arr) DIV 2 + 1 AS INT))) / 2 END"
    )
    return df.select("user_id", "event_id", "value", med.alias("roll_median"))


# ---------------------------------------------------------------------------
# CDC changelog apply (last-writer-wins compaction).
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH base AS (
  SELECT o_orderkey, 0 AS version, 'I' AS op,
         o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 4 <> 0),
ins AS (
  SELECT o_orderkey, 1, 'I', o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 4 = 0),
upd AS (
  SELECT o_orderkey, 2, 'U', o_totalprice * 2, 'U'
  FROM orders WHERE o_orderkey % 3 = 0),
del AS (
  SELECT o_orderkey, 3, 'D', 0.0, 'D'
  FROM orders WHERE o_orderkey % 5 = 0),
log AS (
  SELECT * FROM base UNION ALL SELECT * FROM ins
  UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del),
last AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC) AS rn
  FROM log)
SELECT o_orderkey, price AS final_price, status AS final_status,
       CAST(version AS BIGINT) AS last_version
FROM last WHERE rn = 1 AND op <> 'D'
"""


@register("cdc_apply_changelog", oracle=_CDC_ORACLE)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered insert/update/delete changelog to a snapshot
    (Debezium-style compaction; the inverse of `ParquetLake.diff`'s
    CDC feed — reference merge is the degenerate version-free case,
    `/root/reference/salesforce_pipeline.py:83-130`). Last-writer-wins
    per key is a partial-aggregatable ARGMAX over (version, op,
    payload) structs — one shuffle, map-side combiners collapse each
    key's history, NO window sort (the oracle's ROW_NUMBER is the
    naive formulation). Deletes survive to the argmax then drop, so a
    delete older than the final upsert correctly loses. The changelog
    is synthesized deterministically from `orders` (base = keys %4!=0;
    insert/update/delete waves at versions 1/2/3 by key residue), and
    (key, version) is unique so the argmax is total-ordered."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def wave(flt, version: int, op: str, price, status):
        return o.filter(flt).select(
            k.alias("o_orderkey"),
            F.lit(version).alias("version"),
            F.lit(op).alias("op"),
            price.alias("price"),
            status.alias("status"),
        )

    log = (
        wave(k % 4 != 0, 0, "I", F.col("o_totalprice"), F.col("o_orderstatus"))
        .unionAll(wave(k % 4 == 0, 1, "I", F.col("o_totalprice"), F.col("o_orderstatus")))
        .unionAll(wave(k % 3 == 0, 2, "U", F.col("o_totalprice") * 2, F.lit("U")))
        .unionAll(wave(k % 5 == 0, 3, "D", F.lit(0.0), F.lit("D")))
    )
    from ..operators.incremental_agg import apply_changelog

    return apply_changelog(
        log, "o_orderkey", "version", "op", ["price", "status"]
    ).select(
        "o_orderkey",
        F.col("price").alias("final_price"),
        F.col("status").alias("final_status"),
        "last_version",
    )


_SCRATCH_CLEANUPS: set = set()


def _scratch_lake_root(prefix: str, sf_dir: str) -> "object":
    """Per-(prefix, fixture, pid) scratch dir for harness-built lakes,
    wiped at plan-construction time. Keyed by pid so two concurrent
    harness processes on the same fixture get disjoint lakes instead
    of clobbering each other mid-merge; within one process re-runs
    rebuild the same dir. ADVICE r9: pid-keying alone accumulates one
    orphan dir per past process, so (a) this process's dir is
    atexit-removed, and (b) sibling dirs of the same (prefix, fixture)
    whose owning pid is GONE are swept here — the only processes that
    could race on them are dead."""
    import atexit
    import hashlib
    import os
    import re
    import shutil
    import tempfile
    from pathlib import Path

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    stem = f"spark_graft_{prefix}_{key}"
    tmp = Path(tempfile.gettempdir())
    pat = re.compile(re.escape(stem) + r"_(\d+)$")
    for sib in tmp.glob(f"{stem}_*"):
        m = pat.match(sib.name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)  # signal 0: existence probe
        except ProcessLookupError:
            shutil.rmtree(sib, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid: leave it alone
    root = tmp / f"{stem}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    if root not in _SCRATCH_CLEANUPS:
        _SCRATCH_CLEANUPS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


@register("cdc_guarded_out_of_order", oracle=_CDC_ORACLE)
def cdc_guarded_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstoned stale-version guard, driven through the REAL lake:
    the same 4-wave changelog as `cdc_apply_changelog`, but delivered
    as four separate ``ParquetLake.merge_cdc(guard_stale=True)``
    batches in REVERSE version order (deletes first, base last — the
    worst-case out-of-order delivery). The guard persists winning
    deletes as version-carrying tombstones (hidden from `read`,
    retained until `compact_tombstones`), so a v2 update arriving
    after the v3 delete that superseded it is recognized as stale
    instead of resurrecting the key — the round-7 boundary, closed.
    The oracle is the ONE-SHOT last-writer-wins compaction (identical
    SQL to `cdc_apply_changelog`): the guarded lake must converge to
    it from ANY delivery order (the split-invariance-with-deletes law
    in tests/test_properties.py draws random permutations; this query
    pins the adversarial reverse order end-to-end through commit,
    schema-evolution, and read-filter machinery). Re-runs are
    idempotent — every batch is stale against the final state — but
    the lake dir is rebuilt from scratch for determinism. No
    reference analog: its merge is version-free delete-then-insert
    (salesforce_pipeline.py:83-130)."""
    from ..sinks.dispositions import ParquetLake

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def wave(flt, version: int, op: str, price, status):
        return o.filter(flt).select(
            k.alias("o_orderkey"),
            F.lit(version).alias("version"),
            F.lit(op).alias("op"),
            price.alias("price"),
            status.alias("status"),
        )

    batches = [  # reverse version order: v3 deletes delivered FIRST
        wave(k % 5 == 0, 3, "D", F.lit(0.0), F.lit("D")),
        wave(k % 3 == 0, 2, "U", F.col("o_totalprice") * 2, F.lit("U")),
        wave(k % 4 == 0, 1, "I", F.col("o_totalprice"), F.col("o_orderstatus")),
        wave(k % 4 != 0, 0, "I", F.col("o_totalprice"), F.col("o_orderstatus")),
    ]
    lake = ParquetLake(spark, _scratch_lake_root("cdclake", sf_dir))
    for b in batches:
        lake.merge_cdc(b, "orders_cdc", "o_orderkey", guard_stale=True)
    if not lake.exists("orders_cdc"):  # empty source: no batch, no table
        return empty_frame(
            spark,
            "o_orderkey long, final_price double, "
            "final_status string, last_version long",
        )
    return lake.read("orders_cdc").select(
        "o_orderkey",
        F.col("price").alias("final_price"),
        F.col("status").alias("final_status"),
        "last_version",
    )


# Timestamp-version guarded CDC: the reference's real ordering key is a
# datetime cursor (SystemModstamp), so versions here are TIMESTAMPs;
# last_version must come back as their exact epoch microseconds. The
# micros are built with timestamp_micros()/unix_micros() on the Spark
# side and make_timestamp()/epoch_us() in DuckDB — both pairs are exact
# integer inverses, so the oracle is timezone-independent.
_CDC_TS_BASE_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
_CDC_TS_STEP_US = 3_600_000_000 + 250_000  # 1h + 250ms: sub-second bits

_CDC_TS_ORACLE = _CDC_ORACLE.replace(
    "CAST(version AS BIGINT) AS last_version",
    f"CAST({_CDC_TS_BASE_US} + version * {_CDC_TS_STEP_US} AS BIGINT)"
    " AS last_version",
)


@register("cdc_guarded_timestamp_versions", oracle=_CDC_TS_ORACLE)
def cdc_guarded_timestamp_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cdc_guarded_out_of_order` with TIMESTAMP versions — the shape
    every real Debezium/Salesforce changelog has (the reference's
    cursor is a SystemModstamp datetime,
    `/root/reference/salesforce/__init__.py:41-47`). The guard
    canonicalizes timestamps to epoch MICROSECONDS
    (`version_to_long`), so sub-second ordering survives (the wave
    step deliberately carries a 250ms fractional component that a
    seconds-granular cast would collapse into false ties) and the
    persisted ``last_version`` is an exact integer the oracle
    reproduces arithmetically. Same adversarial reverse delivery,
    same one-shot LWW oracle."""
    from ..sinks.dispositions import ParquetLake

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def wave(flt, version: int, op: str, price, status):
        vts = F.timestamp_micros(
            F.lit(_CDC_TS_BASE_US + version * _CDC_TS_STEP_US)
        )
        return o.filter(flt).select(
            k.alias("o_orderkey"),
            vts.alias("version"),
            F.lit(op).alias("op"),
            price.alias("price"),
            status.alias("status"),
        )

    batches = [  # reverse version order, as in the long-version twin
        wave(k % 5 == 0, 3, "D", F.lit(0.0), F.lit("D")),
        wave(k % 3 == 0, 2, "U", F.col("o_totalprice") * 2, F.lit("U")),
        wave(k % 4 == 0, 1, "I", F.col("o_totalprice"), F.col("o_orderstatus")),
        wave(k % 4 != 0, 0, "I", F.col("o_totalprice"), F.col("o_orderstatus")),
    ]
    lake = ParquetLake(spark, _scratch_lake_root("cdctslake", sf_dir))
    for b in batches:
        lake.merge_cdc(b, "orders_cdc", "o_orderkey", guard_stale=True)
    if not lake.exists("orders_cdc"):
        return empty_frame(
            spark,
            "o_orderkey long, final_price double, "
            "final_status string, last_version long",
        )
    return lake.read("orders_cdc").select(
        "o_orderkey",
        F.col("price").alias("final_price"),
        F.col("status").alias("final_status"),
        "last_version",
    )


# ---------------------------------------------------------------------------
# Weighted priority sampling (Duffield–Lund–Thorup).
# ---------------------------------------------------------------------------


@register(
    "sample_weighted_priority",
    oracle="""
    WITH pri AS (
      SELECT doc_id, n_chars AS weight,
             (CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) AS BIGINT) * 1000000)
               // GREATEST(n_chars, 1) AS priority
      FROM documents)
    SELECT doc_id, weight, priority FROM pri
    ORDER BY priority, doc_id LIMIT 100
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (Duffield–Lund–Thorup): each document
    gets priority u/w for a uniform u and weight w (= n_chars), and the
    k smallest priorities form a weight-biased sample with unbiased
    subset-sum estimators. Everything is exact integer arithmetic —
    u is a 32-bit md5-derived uniform, priority = (u * 10^6) DIV w —
    so the sample SET is engine-reproducible (no float, no RNG state).
    The top-k executes as TakeOrdered (per-partition k-heaps + one
    driver merge of k*P candidate rows), never a full sort: the
    selection cost at 100 TB is a map pass plus k*partitions rows of
    shuffle. Corpus use: quality- or length-weighted eval-set draws
    that stay stable across reruns and engines."""
    d = t(spark, sf_dir, "documents")
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    pri = d.select(
        "doc_id", F.col("n_chars").alias("weight"), u32.alias("u32")
    ).select(
        "doc_id",
        "weight",
        # Integer DIV (not double /) - a double quotient can round UP
        # across an integer boundary before the truncating cast.
        F.expr("(u32 * 1000000) DIV greatest(weight, 1)").alias("priority"),
    )
    return pri.orderBy("priority", "doc_id").limit(100)


# ---------------------------------------------------------------------------
# Canonical-URL dedup (web-corpus staple).
# ---------------------------------------------------------------------------

_URL_SQL = """
WITH urls AS (
  SELECT doc_id,
         'HTTPS://' || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END)
         || source || '.Example.COM:443/p/' || CAST(doc_id % 40 AS STRING)
         || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || lang
                  WHEN doc_id % 3 = 1 THEN '?ref=' || lang ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
  FROM {documents}),
canon AS (
  SELECT doc_id,
         replace(replace(lower(split_part(url, '#', 1)), ':443/', '/'),
                 '?utm_source=feed&', '?') AS curl
  FROM urls)
SELECT curl AS canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(doc_id) AS kept_doc_id
FROM canon GROUP BY curl
"""


@register("dedup_url_canonical", oracle=_URL_SQL.format(documents="documents"))
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup, the first dedup pass of every web-crawl
    corpus: normalize scheme/host case, strip the default :443 port,
    drop the fragment and tracking (utm_*) params, then keep the
    smallest doc_id per canonical URL. The synthetic messy URLs are
    derived deterministically from (doc_id, source, lang) since the
    fixtures carry no real URLs; the canonicalizer itself is the real
    operator — a map-side chain of string primitives shared verbatim
    with the oracle (lower/split_part/replace — no regex, whose
    flavors differ across engines; `scalar_url_functions` covers the
    parse_url-based decomposition). One shuffle on the canonical key;
    keep-first is MIN, i.e. fully partial-aggregatable."""
    t(spark, sf_dir, "documents").createOrReplaceTempView("ts_url_documents")
    return spark.sql(_URL_SQL.format(documents="ts_url_documents"))


# ---------------------------------------------------------------------------
# Inter-arrival time statistics (per-user event cadence).
# ---------------------------------------------------------------------------

_IAT_SQL = """
WITH gaps AS (
  SELECT user_id,
         {us}(ts) - LAG({us}(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS gap_us
  FROM {events}),
m AS (
  SELECT user_id,
         CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_us) AS BIGINT) AS s,
         MIN(gap_us) AS min_gap_us,
         MAX(gap_us) AS max_gap_us
  FROM gaps GROUP BY user_id)
SELECT user_id, n_gaps,
       CAST(s AS DOUBLE) / (1000000.0 * n_gaps) AS mean_gap_seconds,
       min_gap_us, max_gap_us
FROM m WHERE n_gaps > 0
"""


@register(
    "events_inter_arrival_stats",
    oracle=_IAT_SQL.format(events="events", us="epoch_us"),
)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival cadence (gap count, exact mean, min/max)
    — the heartbeat/health profile of any event stream, and the input
    feature for churn- and bot-detection. Gaps are exact integer
    microseconds from one LAG per user partition (ties broken by
    event_id); the mean is one IEEE division of an exact BIGINT sum.
    The only dialect split is the epoch accessor (unix_micros vs
    epoch_us). Single shuffle on user_id, combinable aggregate after
    the lag."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ts_iat_events")
    return spark.sql(_IAT_SQL.format(events="ts_iat_events", us="unix_micros"))


# ---------------------------------------------------------------------------
# Maximum drawdown per user (running-peak window).
# ---------------------------------------------------------------------------

_DRAWDOWN_SQL = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM {events}),
p AS (
  SELECT user_id, cents,
         MAX(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM v)
SELECT user_id,
       CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(CASE WHEN peak > 0
                     THEN ((peak - cents) * 1000000) {div} peak ELSE 0 END)
            AS BIGINT) AS max_drawdown_ppm
FROM p GROUP BY user_id
"""


@register(
    "window_max_drawdown_per_user",
    oracle=_DRAWDOWN_SQL.format(events="events", div="//"),
)
def window_max_drawdown_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user (largest drop from a running peak) —
    the canonical risk metric over any cumulative series, and the
    stress-test for running-extreme windows. The peak is a running MAX
    window (bounded state, partitioned by user); drawdowns stay exact
    integers — absolute in cents, relative in parts-per-million via
    integer division — so the per-user MAX is engine-exact with no
    float comparisons anywhere."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ts_dd_events")
    return spark.sql(_DRAWDOWN_SQL.format(events="ts_dd_events", div="DIV"))


# ---------------------------------------------------------------------------
# Event transition matrix (first-order Markov counts).
# ---------------------------------------------------------------------------

_TRANSITION_SQL = """
WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM {events}),
c AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type),
tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY prev_type)
SELECT c.prev_type, c.next_type, c.n,
       CAST(c.n AS DOUBLE) / t.row_n AS p
FROM c JOIN tot t ON c.prev_type = t.prev_type
"""


@register(
    "events_transition_matrix",
    oracle=_TRANSITION_SQL.format(events="events"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (prev_type -> next_type counts + row-normalized
    probabilities) — the sequence-mining summary behind funnels,
    anomaly detection and session generators. One LAG per user
    partition, one combinable pair count; row normalization joins the
    25-row totals back (broadcast at any scale). p is one IEEE
    division of exact counts."""
    t(spark, sf_dir, "events").createOrReplaceTempView("ts_tm_events")
    return spark.sql(_TRANSITION_SQL.format(events="ts_tm_events"))


# ---------------------------------------------------------------------------
# Period-over-period revenue report (BI staple).
# ---------------------------------------------------------------------------

_MOM_SQL = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM {orders} GROUP BY date_trunc('month', o_orderdate))
SELECT month, n_orders, revenue,
       revenue - LAG(revenue) OVER (ORDER BY month) AS mom_delta,
       (revenue - LAG(revenue) OVER (ORDER BY month))
         / LAG(revenue) OVER (ORDER BY month) AS mom_pct
FROM m
"""


@register(
    "report_monthly_revenue_mom", oracle=_MOM_SQL.format(orders="orders")
)
def report_monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue report — the period-comparison shape of
    every BI dashboard. Monthly revenue is the decimal-stabilized sum
    (order-independent; the dsum house rule) so the LAG deltas and
    percent changes are IEEE ops on identical doubles; the LAG window
    runs over #months rows (tiny, after full aggregation). Template
    shared verbatim — DECIMAL(18,6) casts parse identically in both
    engines. First month emits NULL delta/pct on both sides."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("ts_mom_orders")
    return spark.sql(_MOM_SQL.format(orders="ts_mom_orders"))


# ---------------------------------------------------------------------------
# Hopping (sliding) window counts — batch twin of streaming hops.
# ---------------------------------------------------------------------------


@register(
    "window_hopping_counts",
    oracle="""
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                     time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
               AS win_start,
             event_type
      FROM events)
    SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY win_start, event_type
    """,
)
def window_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window counts (10-minute windows sliding every 5) per
    event type — the overlapping-window aggregation Structured
    Streaming runs with `F.window(ts, winDur, slideDur)`; here the
    batch twin. Each event lands in exactly window/slide = 2 windows;
    Spark's window generator and the oracle's two shifted time_buckets
    produce the same epoch-aligned grid. Explode factor == overlap
    count (2x), then one combinable aggregation."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events"
        )
    )


# ---------------------------------------------------------------------------
# Forward as-of join with tolerance (time-to-next-event attribution).
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH l AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'),
r AS (
  SELECT event_id AS r_id, user_id, ts AS r_ts, value AS r_value
  FROM events WHERE event_type = 'purchase'),
pick AS (
  SELECT l.click_id, l.user_id, l.click_ts,
         r.r_id, r.r_ts, r.r_value,
         ROW_NUMBER() OVER (PARTITION BY l.click_id
                            ORDER BY r.r_ts, r.r_id) AS rn
  FROM l LEFT JOIN r
    ON r.user_id = l.user_id
   AND r.r_ts >= l.click_ts
   AND r.r_ts <= l.click_ts + INTERVAL 1 HOUR)
SELECT click_id, user_id, click_ts,
       r_ts AS ts_next, r_id AS event_id_next, r_value AS value_next
FROM pick WHERE rn = 1
"""


@register("asof_join_forward_events", oracle=_ASOF_FWD_ORACLE)
def asof_join_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a 1-hour tolerance: every click is
    matched to the user's EARLIEST purchase at or after it within the
    horizon (`temporal.asof_join_forward`) — time-to-next-event /
    conversion-lookahead attribution, the direction DuckDB's native
    ASOF JOIN cannot express (backward-only; the oracle is a bounded
    range join + ROW_NUMBER pick instead). Execution is the house
    union-sort-carry: ONE shuffle on user_id, reverse-time order with
    deterministic (ts, event_id) tie-breaks, tolerance applied as a
    post-carry column predicate — no range self-join at any scale.
    Output floats are single picked row values."""
    from ..operators.temporal import asof_join_forward

    e = t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join_forward(
        left,
        right,
        on="user_id",
        left_ts="click_ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        tie_col="event_id",
        tolerance_seconds=3600,
        suffix="_next",
    )
