"""Property-based tests (hypothesis): algebraic invariants that must
hold for ARBITRARY inputs, not just the fixtures - the reference's
test strategy has nothing like this (SURVEY §5: its checks are row
counts and head samples); these pin the operator contracts.

Each property keeps max_examples small: every example pays a Spark
job, so the value is in the generator's edge cases (empty strings,
negative values, duplicate keys, zero vectors), not in volume.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_salesforce_iceberg_rest_demo_spark.functions.skew import salted_join
from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity, temporal

from .conftest import FULL_TESTS

# Round-11 (driver-window fix): every hypothesis example pays one or
# more Spark jobs, so example count is the module's wall-clock knob.
# The default tier runs 3 examples per property (the generators'
# minimal/edge shrink targets still fire); the exhaustive tier
# (SPARK_GRAFT_FULL_TESTS=1, run by the round ritual) restores the
# original 12/8.
_N = (12, 8) if FULL_TESTS else (2, 2)

SETTINGS = settings(
    max_examples=_N[0],
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
vals = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64)


class TestSaltedJoinProperty:
    @SETTINGS
    @given(
        left=st.lists(st.tuples(keys, vals), min_size=0, max_size=30),
        right=st.lists(st.tuples(keys, vals), min_size=0, max_size=10),
    )
    def test_salted_equals_plain_inner_join(self, spark, left, right):
        """Salting must be invisible: same multiset of matched pairs as
        the plain inner join, for any key skew including empty sides
        and keys present on only one side."""
        l = spark.createDataFrame(
            [Row(k=k, lv=v) for k, v in left], "k long, lv double"
        )
        r = spark.createDataFrame(
            [Row(k=k, rv=v) for k, v in right], "k long, rv double"
        )
        plain = sorted(
            (x.k, x.lv, x.rv) for x in l.join(r, "k").collect()
        )
        salted = sorted(
            (x.k, x.lv, x.rv)
            for x in salted_join(l, r, "k", salt=4).select("k", "lv", "rv").collect()
        )
        assert salted == plain


class TestQuantizeProperty:
    @SETTINGS
    @given(
        vec=st.lists(
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
            min_size=1,
            max_size=8,
        )
    )
    def test_roundtrip_error_within_half_step(self, spark, vec):
        """For any vector, dequantized values sit within scale/2 of the
        original and codes stay in [-127, 127]."""
        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[float(x) for x in vec])]
        )
        r = similarity.quantize_int8(df).collect()[0]
        assert all(-127 <= q <= 127 for q in r.qvec)
        if r.dequant_scale == 0.0:
            assert all(q == 0 for q in r.qvec)
        else:
            for orig, q in zip(vec, r.qvec):
                assert abs(float(orig) - q * r.dequant_scale) <= r.dequant_scale / 2 + 1e-9


class TestEwmaProperty:
    @SETTINGS
    @given(series=st.lists(vals, min_size=1, max_size=12))
    def test_ewma_stays_within_running_envelope(self, spark, series):
        """EWMA is a convex combination of the values seen so far, so
        every output lies within [min, max] of the prefix."""
        rows = [Row(user_id=1, ts=i, value=float(v)) for i, v in enumerate(series)]
        out = sorted(
            temporal.ewma(
                spark.createDataFrame(rows), "user_id", "ts", "value", alpha=0.4
            ).collect(),
            key=lambda r: r.ts,
        )
        lo, hi = float("inf"), float("-inf")
        for i, r in enumerate(out):
            lo = min(lo, series[i])
            hi = max(hi, series[i])
            assert lo - 1e-9 <= r.ewma <= hi + 1e-9


class TestSessionizeProperty:
    @SETTINGS
    @given(
        gaps=st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=15)
    )
    def test_sessions_partition_events_and_respect_gap(self, spark, gaps):
        """Sessionization is a partition of the input: event count is
        preserved, and consecutive events in one session are <= the
        gap apart while session boundaries exceed it."""
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        ts, acc = [], 0
        for g in gaps:
            acc += g
            ts.append(t0 + datetime.timedelta(minutes=acc))
        rows = [
            Row(user_id=1, ts=x, value=1.0, event_id=i) for i, x in enumerate(ts)
        ]
        out = temporal.sessionize(
            spark.createDataFrame(rows), gap_minutes=30
        ).collect()
        assert len(out) == len(rows)
        by_ts = sorted(out, key=lambda r: r.ts)
        for prev, cur in zip(by_ts, by_ts[1:]):
            delta = (cur.ts - prev.ts).total_seconds() / 60
            if cur.session_idx == prev.session_idx:
                assert delta <= 30
            else:
                assert delta > 30


class TestBloomProperties:
    @given(
        keys=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                      max_size=50, unique=True),
    )
    @settings(
        max_examples=_N[1], deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_bloom_never_false_negative(self, spark, keys):
        """Property: every inserted key passes the filter (bloom filters
        may false-positive, never false-negative) for ANY key set."""
        from dlt_salesforce_iceberg_rest_demo_spark.functions import bloom

        df = spark.createDataFrame([(k,) for k in keys], "key long")
        words = bloom.bloom_build(df, "key", n_bits=1 << 12, k=3)
        passed = df.filter(
            bloom.bloom_might_contain(F.col("key"), words, n_bits=1 << 12, k=3)
        ).count()
        assert passed == len(keys)


class TestScd2Properties:
    @given(
        obs=st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),    # key
                st.sampled_from(["a", "b", "c"]),          # attr
                st.integers(min_value=0, max_value=10**6), # ts offset sec
            ),
            min_size=1,
            max_size=30,
        )
    )
    @settings(
        max_examples=_N[1], deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_runs_partition_observations_and_chain(self, spark, obs):
        """Laws for ANY observation set: per key, n_observations sums
        to the key's row count; exactly one current run; valid_to
        chains to the next run's valid_from."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.scd import (
            scd2_from_snapshots,
        )

        rows = [
            (k, a, f"2024-01-01 00:00:{0:02d}", i, ts)
            for i, (k, a, ts) in enumerate(obs)
        ]
        df = (
            spark.createDataFrame(
                rows, "k long, attr string, base string, id long, off long"
            )
            .withColumn(
                "ts",
                F.col("base").cast("timestamp")
                + F.make_dt_interval(secs=F.col("off").cast("double")),
            )
            .drop("base", "off")
        )
        out = scd2_from_snapshots(df, "k", "attr", "ts", "id").collect()
        from collections import Counter, defaultdict

        per_key_rows = Counter(k for k, _, _ in obs)
        by_key = defaultdict(list)
        for r in out:
            by_key[r.k].append(r)
        for k, hist in by_key.items():
            hist.sort(key=lambda r: r.valid_from)
            assert sum(r.n_observations for r in hist) == per_key_rows[k]
            assert sum(1 for r in hist if r.is_current) == 1
            assert hist[-1].is_current and hist[-1].valid_to is None
            for a, b in zip(hist, hist[1:]):
                assert a.valid_to == b.valid_from
                assert a.attr != b.attr  # runs alternate by construction


class TestFunnelProperties:
    @given(
        events=st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=5),
                st.sampled_from(["s1", "s2", "s3", "x"]),
                st.integers(min_value=0, max_value=10**5),
            ),
            min_size=0,
            max_size=40,
        )
    )
    @settings(
        max_examples=_N[1], deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_step_counts_monotonically_nonincreasing(self, spark, events):
        """Funnel law: each step's user count <= the previous step's,
        for ANY event set (ordering constraint only removes users)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.funnel import (
            ordered_funnel_df,
        )

        rows = [
            (u, t_, f"2024-01-01 00:00:00", i, off)
            for i, (u, t_, off) in enumerate(events)
        ]
        df = (
            spark.createDataFrame(
                rows, "user_id long, event_type string, base string, id long, off long"
            )
            .withColumn(
                "ts",
                F.col("base").cast("timestamp")
                + F.make_dt_interval(secs=F.col("off").cast("double")),
            )
            .drop("base", "off", "id")
        )
        out = {
            r.step_index: r.n_users
            for r in ordered_funnel_df(df, ["s1", "s2", "s3"]).collect()
        }
        assert out[0] >= out[1] >= out[2] >= 0


class TestSweepLineProperty:
    @SETTINGS
    @given(
        offsets=st.lists(
            st.integers(min_value=0, max_value=7200), min_size=1, max_size=40
        )
    )
    def test_max_concurrency_equals_brute_force(self, spark, offsets):
        """The two-level prefix-sum decomposition must equal the naive
        global sweep for arbitrary timestamp multisets — including
        duplicates, bucket-boundary ticks, and intervals whose ends
        coincide with other starts (half-open: end before start)."""
        import datetime as dt

        from dlt_salesforce_iceberg_rest_demo_spark.operators.temporal import (
            max_interval_concurrency,
        )

        base = dt.datetime(2024, 1, 1)
        ts = [base + dt.timedelta(seconds=o) for o in offsets]
        df = spark.createDataFrame([Row(ts=t) for t in ts], "ts timestamp")
        got = max_interval_concurrency(df, duration_minutes=30).collect()[0]

        # brute force: sweep all (tick, delta) with -1 before +1
        events = sorted(
            [(t, 1) for t in ts]
            + [(t + dt.timedelta(minutes=30), -1) for t in ts],
            key=lambda e: (e[0], e[1]),
        )
        conc = best = 0
        best_at = None
        for tick, delta in events:
            conc += delta
            if conc > best:
                best, best_at = conc, tick
        assert got["max_concurrent"] == best
        assert got["at_tick"] == best_at


class TestChangelogApplyProperty:
    @SETTINGS
    @given(
        entries=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=4),  # key
                st.integers(min_value=0, max_value=9),  # version
                st.sampled_from(["I", "U", "D"]),
                st.integers(min_value=-100, max_value=100),  # payload
            ),
            min_size=0,
            max_size=30,
            unique_by=lambda e: (e[0], e[1]),  # (key, version) unique
        )
    )
    def test_argmax_apply_equals_sequential_fold(self, spark, entries):
        """Last-writer-wins compaction must equal replaying the
        changelog in version order per key — for any interleaving of
        inserts, updates and deletes, including delete-then-reinsert
        and keys that end deleted."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            apply_changelog,
        )

        if not entries:
            return
        df = spark.createDataFrame(
            [Row(k=k, version=v, op=o, payload=p) for k, v, o, p in entries],
            "k long, version long, op string, payload long",
        )
        got = {
            r["k"]: (r["payload"], r["last_version"])
            for r in apply_changelog(df, "k", "version", "op", ["payload"]).collect()
        }

        state: dict = {}
        for k, v, o, p in sorted(entries, key=lambda e: (e[0], e[1])):
            state[k] = (o, p, v)
        want = {
            k: (p, v) for k, (o, p, v) in state.items() if o != "D"
        }
        assert got == want

    def test_numeric_string_versions_order_numerically(self, spark):
        """ADVICE r8: the argmax casts version to long FIRST — raw
        string comparison would pick "9" over "10" and hand the win to
        the older event."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            apply_changelog,
        )

        df = spark.createDataFrame(
            [
                Row(k=1, version="9", op="U", payload=90),
                Row(k=1, version="10", op="U", payload=100),
            ],
            "k long, version string, op string, payload long",
        )
        out = apply_changelog(df, "k", "version", "op", ["payload"]).collect()
        assert len(out) == 1
        assert out[0]["payload"] == 100 and out[0]["last_version"] == 10

    def test_timestamp_versions_order_as_epoch_micros(self, spark):
        """VERDICT r9 task 4: TIMESTAMP version columns (the most
        common real CDC ordering key — the reference's cursor is a
        SystemModstamp datetime) canonicalize to epoch MICROSECONDS,
        so sub-second ordering is preserved and the emitted
        last_version is the exact integer both sides of any oracle
        can reproduce."""
        import datetime as dt

        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            apply_changelog,
        )

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 250_000)
        t1 = dt.datetime(2024, 1, 1, 0, 0, 0, 750_000)  # same second
        df = spark.createDataFrame(
            [
                Row(k=1, version=t1, op="U", payload=100),
                Row(k=1, version=t0, op="U", payload=90),
            ],
            "k long, version timestamp, op string, payload long",
        )
        out = apply_changelog(df, "k", "version", "op", ["payload"]).collect()
        assert len(out) == 1
        # session tz is UTC (session.py), so epoch micros are exact
        want = int(t1.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        assert out[0]["payload"] == 100 and out[0]["last_version"] == want

    def test_timestamp_ntz_versions_use_session_timezone(self, spark):
        """TIMESTAMP_NTZ versions reinterpret in the session timezone
        (pinned UTC in session.py) before the epoch-micros
        canonicalization — ordering is preserved and the emitted
        last_version equals the UTC reading of the wall-clock value."""
        import datetime as dt

        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            apply_changelog,
        )

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 100_000)
        t1 = dt.datetime(2024, 1, 1, 0, 0, 0, 900_000)
        df = spark.createDataFrame(
            [
                Row(k=1, version=t0, op="U", payload=90),
                Row(k=1, version=t1, op="U", payload=100),
            ],
            "k long, version timestamp_ntz, op string, payload long",
        )
        out = apply_changelog(df, "k", "version", "op", ["payload"]).collect()
        want = int(t1.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        assert len(out) == 1
        assert out[0]["payload"] == 100 and out[0]["last_version"] == want

    def test_unrepresentable_version_raises_inline(self, spark):
        """ADVICE r9 medium: a non-NULL version the long cast cannot
        represent (ISO-8601 string here) must RAISE at execution
        time, not silently become NULL and hand the argmax to
        op/payload struct order. The guard is an inline raise_error —
        no extra scan — so it fires on the unguarded merge_cdc path
        too."""
        import pytest as _pytest

        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            apply_changelog,
        )

        df = spark.createDataFrame(
            [Row(k=1, version="2024-01-01T00:00:00Z", op="I", payload=1)],
            "k long, version string, op string, payload long",
        )
        with _pytest.raises(Exception, match="losslessly convertible"):
            apply_changelog(df, "k", "version", "op", ["payload"]).collect()

    def test_null_versions_still_lose_without_raising(self, spark):
        """NULL versions remain the documented lose-every-comparison
        case in unguarded apply — the inline unrepresentable guard
        must not fire on them."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            apply_changelog,
        )

        df = spark.createDataFrame(
            [
                Row(k=1, version=None, op="U", payload=1),
                Row(k=1, version="5", op="U", payload=5),
            ],
            "k long, version string, op string, payload long",
        )
        out = apply_changelog(df, "k", "version", "op", ["payload"]).collect()
        assert len(out) == 1
        assert out[0]["payload"] == 5 and out[0]["last_version"] == 5


class TestPackSequencesProperty:
    @SETTINGS
    @given(
        docs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10_000),
                st.lists(
                    st.sampled_from(["a", "bb", "ccc", "dddd", ""]),
                    min_size=0,
                    max_size=12,
                ),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda d: d[0],
        )
    )
    def test_ffd_equals_python_reference(self, spark, docs):
        """For arbitrary corpora the engine's md5-bucketed FFD must
        equal a pure-Python replay: same buckets, same (n_tokens desc,
        doc_id) order, same first-fit placements, same bin ids."""
        import hashlib

        from dlt_salesforce_iceberg_rest_demo_spark.operators.text import (
            pack_sequences,
        )

        cap, parts = 6, 3
        rows = [(i, " ".join(toks)) for i, toks in docs]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.bin_id)
            for r in pack_sequences(
                df, max_tokens=cap, num_partitions=parts
            ).collect()
        }

        def bucket(doc_id: int) -> int:
            return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % parts

        want: dict = {}
        by_part: dict = {}
        for i, text in rows:
            n = min(len(text.lower().split(" ")), cap)
            by_part.setdefault(bucket(i), []).append((i, n))
        for pid, items in by_part.items():
            spaces: list = []
            for i, n in sorted(items, key=lambda t: (-t[1], t[0])):
                placed = None
                for b, space in enumerate(spaces):
                    if space >= n:
                        placed, spaces[b] = b, space - n
                        break
                if placed is None:
                    spaces.append(cap - n)
                    placed = len(spaces) - 1
                want[i] = (n, pid * (1 << 32) + placed)
        assert got == want


class TestSemanticDedupProperty:
    @SETTINGS
    @given(
        vecs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=100),
                st.lists(
                    st.floats(
                        min_value=-2, max_value=2, allow_nan=False, width=32
                    ),
                    min_size=4,
                    max_size=4,
                ),
            ),
            min_size=2,
            max_size=12,
            unique_by=lambda v: v[0],
        )
    )
    def test_greedy_prune_equals_python_reference(self, spark, vecs):
        """The quantized greedy scan must equal a pure-Python replay of
        the same fixed-point arithmetic for arbitrary vectors —
        including zero vectors (sim exactly 0 to everything) and exact
        duplicates (pruned with cosine 1)."""
        import math

        import numpy as np

        from dlt_salesforce_iceberg_rest_demo_spark.operators.similarity import (
            _quantize_unit_np,
            semantic_dedup,
        )

        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs]
        )
        out = {
            r.vec_id: (r.keep, r.dup_of)
            for r in semantic_dedup(
                df, threshold=0.8, n_centroids=1, iters=1
            ).collect()
        }

        # n_centroids=1: every vector lands in cluster 0, so the scan
        # is one global id-ordered greedy pass.
        ordered = sorted(vecs, key=lambda v: v[0])
        m = np.array([v for _, v in ordered], dtype=np.float64)
        uq, _ = _quantize_unit_np(m)
        n2 = (uq * uq).sum(axis=1)
        nd = [math.sqrt(float(x)) if x > 0 else 1.0 for x in n2]
        kept: list = []
        want: dict = {}
        for idx, (vid, _) in enumerate(ordered):
            best, best_j = None, None
            for j in kept:
                d = int(uq[j] @ uq[idx])
                sim = float(d) / (nd[j] * nd[idx])
                if best is None or sim > best:
                    best, best_j = sim, j
            if best is not None and best > 0.8:
                want[vid] = (False, ordered[best_j][0])
            else:
                want[vid] = (True, None)
                kept.append(idx)
        assert out == want


class TestLshNeighborPairsProperty:
    @SETTINGS
    @given(
        vecs=st.lists(
            st.lists(
                st.floats(min_value=-2, max_value=2, allow_nan=False, width=32),
                min_size=4,
                max_size=4,
            ),
            min_size=2,
            max_size=10,
        )
    )
    def test_pairs_subset_of_exact_eps_pairs(self, spark, vecs):
        """For arbitrary vectors every emitted pair must genuinely have
        fixed-point cosine >= eps (the generator may MISS pairs, never
        fabricate them)."""
        import numpy as np

        from dlt_salesforce_iceberg_rest_demo_spark.operators.similarity import (
            FIXED_SCALE,
            lsh_neighbor_pairs,
        )

        eps = 0.7
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v])
             for i, v in enumerate(vecs)]
        )
        got = {
            (r.id_a, r.id_b)
            for r in lsh_neighbor_pairs(
                df, eps_cosine=eps, dim=4, n_planes=2, n_tables=4
            ).collect()
        }
        m = np.array(vecs, dtype=np.float64)
        n2 = np.floor(m * m * FIXED_SCALE).astype(np.int64).sum(axis=1)
        nd = np.sqrt(n2.astype(np.float64))
        for a, b in got:
            dot = int(
                np.floor(m[a] * m[b] * FIXED_SCALE).astype(np.int64).sum()
            )
            assert nd[a] > 0 and nd[b] > 0
            assert float(dot) / (nd[a] * nd[b]) >= eps, (a, b)


# Shared generator for the text similarity-join properties: a tiny
# 4-word alphabet makes hot shingles, repeated bigrams inside one doc,
# identical docs, and sub-n docs all common — exactly the edge cases
# the fixture corpus (unique-ish synthetic text) never produces.
_corpus = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
    min_size=2,
    max_size=6,
)


def _bigram_sets(docs: list[list[str]]) -> dict[int, set]:
    return {
        i: {f"{w[j]} {w[j + 1]}" for j in range(len(w) - 1)}
        for i, w in enumerate(docs)
    }


class TestSparseCosineProperty:
    @SETTINGS
    @given(docs=_corpus)
    def test_matches_python_reference_with_cap(self, spark, docs):
        """sparse_cosine_pairs == the set-semantics TF-IDF reference
        for ARBITRARY corpora: distinct bigrams per doc (repeats count
        once — the bug class the synthetic fixtures can't catch),
        integer rarity weights, df cap dropping hot shingles, one IEEE
        sqrt/multiply/divide chain. threshold=0 keeps every pair with
        a shared kept shingle, so the PAIR SET is compared too."""
        import math
        from collections import Counter

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text

        max_df = 2
        sh = _bigram_sets(docs)
        df_ = Counter(s for ss in sh.values() for s in ss)
        wt = {s: 1_000_000 // d for s, d in df_.items() if d <= max_df}
        vec = {i: {s: wt[s] for s in ss if s in wt} for i, ss in sh.items()}
        nrm2 = {i: sum(w * w for w in v.values()) for i, v in vec.items()}
        want = {}
        for a in vec:
            for b in vec:
                if a >= b:
                    continue
                dot = sum(vec[a][s] * vec[b][s] for s in vec[a] if s in vec[b])
                if dot > 0:
                    want[(a, b)] = (
                        dot,
                        dot / (math.sqrt(nrm2[a]) * math.sqrt(nrm2[b])),
                    )
        sdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r.doc_a, r.doc_b): (r.dot, r.cosine)
            for r in text.sparse_cosine_pairs(
                sdf, max_df=max_df, threshold=0.0
            ).collect()
        }
        assert got == want

    @SETTINGS
    @given(docs=_corpus)
    def test_relative_cap_matches_reference(self, spark, docs):
        """max_df_permil: the kept-shingle rule df*1000 <= permil*n_docs
        must match the reference exactly (integer comparison, both
        engines keep the identical shingle set)."""
        import math
        from collections import Counter

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text

        permil = 400
        n_docs = len(docs)
        sh = _bigram_sets(docs)
        df_ = Counter(s for ss in sh.values() for s in ss)
        wt = {
            s: 1_000_000 // d
            for s, d in df_.items()
            if d * 1000 <= permil * n_docs
        }
        vec = {i: {s: wt[s] for s in ss if s in wt} for i, ss in sh.items()}
        nrm2 = {i: sum(w * w for w in v.values()) for i, v in vec.items()}
        want = set()
        for a in vec:
            for b in vec:
                if a < b and any(s in vec[b] for s in vec[a]):
                    want.add((a, b))
        sdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in text.sparse_cosine_pairs(
                sdf, threshold=0.0, max_df_permil=permil
            ).collect()
        }
        assert got == want


class TestPrefixJaccardProperty:
    @SETTINGS
    @given(docs=_corpus)
    def test_matches_naive_python_jaccard(self, spark, docs):
        """prefix filtering is LOSSLESS: pair set and scores equal the
        naive all-pairs bigram Jaccard at threshold 1/2 on arbitrary
        corpora (hot shingles everywhere — the regime where the prefix
        and positional filters prune hardest and any off-by-one in the
        pigeonhole bound would LOSE pairs)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        sh = _bigram_sets(docs)
        want = {}
        for a in sh:
            for b in sh:
                if a >= b:
                    continue
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if union > 0 and 2 * inter >= union:
                    want[(a, b)] = inter / union
        sdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.prefix_jaccard_pairs(
                sdf, n=2, threshold=0.5
            ).collect()
        }
        assert got == want


class TestContainmentProperty:
    @SETTINGS
    @given(docs=_corpus)
    def test_matches_naive_python_containment(self, spark, docs):
        """containment_pairs == the naive directional reference on
        arbitrary corpora: C(A->B) = |A∩B|/|A| with the exact integer
        filter 1000*inter >= permil*|A|, both directions, auto
        strategy (whatever split/route the cost model picks must be
        invisible in the result)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        permil = 800
        sh = _bigram_sets(docs)
        want = {}
        for a in sh:
            for b in sh:
                if a == b:
                    continue
                inter = len(sh[a] & sh[b])
                if inter > 0 and 1000 * inter >= permil * len(sh[a]):
                    want[(a, b)] = inter / len(sh[a])
        sdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r.doc_a, r.doc_b): r.containment
            for r in dedup.containment_pairs(
                sdf, threshold_permil=permil
            ).collect()
        }
        assert got == want


class TestEditDistancePairsProperty:
    @SETTINGS
    @given(
        names=st.lists(
            st.text(alphabet="ab", min_size=0, max_size=5),
            min_size=2,
            max_size=8,
        )
    )
    def test_fastss_equals_bruteforce_levenshtein(self, spark, names):
        """FastSS deletion-neighborhood blocking is LOSSLESS for
        ed <= 1: pair set and distances equal the naive all-pairs DP
        on arbitrary strings over a 2-letter alphabet (dense deletion
        collisions, empty strings, duplicates — the candidate-join
        edge cases)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        def lev(a: str, b: str) -> int:
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        want = {}
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                d = lev(names[i], names[j])
                if d <= 1:
                    want[(i, j)] = d
        sdf = spark.createDataFrame(
            [Row(id=i, name=s) for i, s in enumerate(names)],
            "id long, name string",
        )
        got = {
            (r.id_a, r.id_b): r.dist
            for r in dedup.edit_distance_pairs(sdf).collect()
        }
        assert got == want


class TestSimhashPigeonholeProperty:
    @SETTINGS
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d"]),
                     min_size=2, max_size=8),
            min_size=2,
            max_size=6,
        )
    )
    @pytest.mark.exhaustive
    def test_chunk_join_complete_for_hamming_le_3(self, spark, docs):
        """The 4-chunk pigeonhole candidate join is COMPLETE for
        Hamming <= 3: simhash_pairs must equal the brute-force
        all-pairs scan over the operator's own signatures (no pair
        within the bound may be lost to the banding)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        sdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )
        sig = {
            r.doc: list(r.chunks)
            for r in dedup.simhash_signatures(sdf).collect()
        }
        want = {}
        ids = sorted(sig)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                h = sum(bin(ca ^ cb).count("1")
                        for ca, cb in zip(sig[a], sig[b]))
                if h <= 3:
                    want[(a, b)] = h
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in dedup.simhash_pairs(sdf).collect()
        }
        assert got == want


class TestConnectedComponentsProperty:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 7), st.integers(0, 7)),
            min_size=1,
            max_size=14,
        )
    )
    def test_both_variants_equal_union_find(self, spark, edges):
        """Min-label propagation AND large-star/small-star must both
        produce exactly the union-find components (cluster_id = min
        node id) on arbitrary multigraphs with self-loops, parallel
        edges, and long chains (the O(diameter) worst case)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        e = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )
        got_prop = {
            r.node: r.cluster_id
            for r in dedup.connected_components(e).collect()
        }
        got_star = {
            r.node: r.cluster_id
            for r in dedup.connected_components_star(e).collect()
        }
        assert got_prop == want
        assert got_star == want


class TestMinhashBandingProperty:
    @SETTINGS
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d"]),
                     min_size=2, max_size=8),
            min_size=2,
            max_size=6,
        )
    )
    def test_pipeline_equals_banding_replay_over_own_signatures(
        self, spark, docs
    ):
        """Given the operator's own signatures, the LSH pipeline output
        is DETERMINISTIC: candidates = pairs whose signatures agree on
        every row of >= 1 band (slice-tuple equality; the band hash is
        injective up to negligible xxhash collisions), survivors =
        candidates with agreement fraction >= threshold. The python
        replay must reproduce pair set AND est_jaccard exactly."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        num_perm, bands, thr = 8, 4, 0.25
        r = num_perm // bands
        sdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)],
            "doc_id long, text string",
        )
        sig = {
            row.doc: list(row.signature)
            for row in dedup.minhash_signatures(
                sdf, num_perm=num_perm
            ).collect()
        }
        want = {}
        ids = sorted(sig)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                shares_band = any(
                    sig[a][i * r:(i + 1) * r] == sig[b][i * r:(i + 1) * r]
                    for i in range(bands)
                )
                if not shares_band:
                    continue
                est = sum(
                    p == q for p, q in zip(sig[a], sig[b])
                ) / num_perm
                if est >= thr:
                    want[(a, b)] = est
        got = {
            (row.doc_a, row.doc_b): row.est_jaccard
            for row in dedup.minhash_dedup_pairs(
                sdf, threshold=thr, num_perm=num_perm, bands=bands
            ).collect()
        }
        assert got == want


class TestTriangleCountProperty:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 6)),
            min_size=1,
            max_size=15,
        )
    )
    def test_equals_bruteforce_per_node_counts(self, spark, edges):
        """Degree-ordered orientation is exact: per-node triangle
        counts equal brute force on arbitrary multigraphs (self-loops
        and parallel edges dropped, degree TIES everywhere — the
        orientation tie-break territory)."""
        from itertools import combinations

        from dlt_salesforce_iceberg_rest_demo_spark.operators import graph

        simple = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        adj = {}
        for a, b in simple:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for u, v, w in combinations(sorted(adj), 3):
            if v in adj[u] and w in adj[u] and w in adj[v]:
                for n in (u, v, w):
                    want[n] = want.get(n, 0) + 1
        e = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )
        got = {
            r.node: r.n_triangles
            for r in graph.triangle_count(e).collect()
        }
        assert got == want


class TestKTrussProperty:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 6)),
            min_size=1,
            max_size=15,
        )
    )
    def test_equals_python_peel(self, spark, edges):
        """k-truss (k=3) equals the sequential support peel: same
        surviving edge set, same fixed-point supports."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import graph

        simple = {tuple(sorted(e)) for e in edges if e[0] != e[1]}

        def supports(es):
            adj = {}
            for a, b in es:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            return {
                (a, b): len(adj[a] & adj[b]) for a, b in es
            }

        cur = set(simple)
        while True:
            sup = supports(cur)
            drop = {e for e, s in sup.items() if s < 1}  # k=3 -> need 1
            if not drop:
                break
            cur -= drop
        want = supports(cur)
        e = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )
        got = {
            (r.a, r.b): r.support for r in graph.k_truss(e, k=3).collect()
        }
        assert got == want


class TestBellmanFordProperty:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 5),
                      st.integers(0, 10)),
            min_size=1,
            max_size=12,
        )
    )
    def test_equals_bounded_hop_reference(self, spark, edges):
        """Bounded-hop Bellman-Ford == the synchronous python
        relaxation for the same round count, on arbitrary weighted
        digraphs (parallel edges with different weights, cycles,
        unreachable nodes absent from the output)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import graph

        iters = 3
        dist = {0: 0}
        for _ in range(iters):
            nxt = dict(dist)
            for u, v, w in edges:
                if u in dist:
                    cand = dist[u] + w
                    if cand < nxt.get(v, cand + 1):
                        nxt[v] = cand
            dist = nxt
        e = spark.createDataFrame(
            [Row(src=u, dst=v, w=w) for u, v, w in edges],
            "src long, dst long, w long",
        )
        got = {
            r.node: r.dist
            for r in graph.bellman_ford(e, sources=[0], iterations=iters).collect()
        }
        assert got == dist


class TestAsofJoinProperty:
    @SETTINGS
    @given(
        lefts=st.lists(
            st.tuples(st.integers(1, 2), st.integers(0, 50)),
            min_size=1, max_size=10,
        ),
        rights=st.lists(
            st.tuples(st.integers(1, 2), st.integers(0, 50)),
            min_size=1, max_size=8, unique_by=lambda t: t,
        ),
    )
    def test_equals_merge_asof_reference(self, spark, lefts, rights):
        """Backward as-of == the per-row python scan: latest right ts
        <= left ts within the group, inclusive, NULLs when no right row
        precedes. Unique (group, ts) right rows so 'latest' is
        well-defined without a tie column."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import temporal

        l = spark.createDataFrame(
            [Row(g=g, ts=t, lid=i) for i, (g, t) in enumerate(lefts)],
            "g long, ts long, lid long",
        )
        r = spark.createDataFrame(
            [Row(g=g, ts=t, rv=g * 1000 + t) for g, t in rights],
            "g long, ts long, rv long",
        )
        want = {}
        for i, (g, t) in enumerate(lefts):
            best = max(
                (rt for rg, rt in rights if rg == g and rt <= t),
                default=None,
            )
            want[i] = (g * 1000 + best) if best is not None else None
        got = {
            row.lid: row.rv_asof
            for row in temporal.asof_join(l, r, on="g").collect()
        }
        assert got == want

    def test_right_ts_ties_deterministic_with_tie_col(self, spark):
        """Two right rows at one timestamp: tie_col makes the carried
        payload deterministic (highest tie value wins) regardless of
        partitioning."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import temporal

        l = spark.createDataFrame(
            [Row(g=1, ts=10, lid=1)], "g long, ts long, lid long"
        )
        r = spark.createDataFrame(
            [Row(g=1, ts=5, rv=111, seq=1), Row(g=1, ts=5, rv=222, seq=2)],
            "g long, ts long, rv long, seq long",
        ).repartition(4)
        for _ in range(3):
            out = temporal.asof_join(
                l, r, on="g", right_cols=["rv"], tie_col="seq"
            ).collect()
            assert [row.rv_asof for row in out] == [222]

    def test_null_tie_value_loses_to_every_valued_tie(self, spark):
        """A right row whose tie_col value is NULL ranks BELOW all
        non-NULL ties at the same timestamp (round-6 ADVICE fix: the
        previous asc_nulls_last sort let the NULL row's payload win,
        contradicting the highest-value-wins contract)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import temporal

        l = spark.createDataFrame(
            [Row(g=1, ts=10, lid=1)], "g long, ts long, lid long"
        )
        r = spark.createDataFrame(
            [Row(g=1, ts=5, rv=111, seq=1), Row(g=1, ts=5, rv=999, seq=None)],
            "g long, ts long, rv long, seq long",
        ).repartition(4)
        for _ in range(3):
            out = temporal.asof_join(
                l, r, on="g", right_cols=["rv"], tie_col="seq"
            ).collect()
            assert [row.rv_asof for row in out] == [111]


class TestIncrementalMinhashProperty:
    @SETTINGS
    @given(
        corpus=st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d"]),
                     min_size=2, max_size=8),
            min_size=1, max_size=4,
        ),
        batch=st.lists(
            st.lists(st.sampled_from(["a", "b", "c", "d"]),
                     min_size=2, max_size=8),
            min_size=1, max_size=4,
        ),
    )
    @pytest.mark.exhaustive
    def test_batch_vs_corpus_equals_signature_replay(
        self, spark, corpus, batch
    ):
        """Incremental dedup (new batch vs persisted corpus signatures)
        must equal the python replay over the operators' own
        signatures: a new doc matches any CORPUS doc or any EARLIER
        new doc (id order) that shares >= 1 band, with full-signature
        agreement >= threshold — corpus text never re-read, no pair
        double-counted, intra-batch dups caught in the same pass."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        num_perm, bands, thr = 8, 4, 0.25
        r = num_perm // bands
        cdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(corpus)],
            "doc_id long, text string",
        )
        ndf = spark.createDataFrame(
            [Row(doc_id=100 + i, text=" ".join(w))
             for i, w in enumerate(batch)],
            "doc_id long, text string",
        )
        base_sigs = dedup.minhash_signatures(cdf, num_perm=num_perm)
        sig = {
            row.doc: list(row.signature) for row in base_sigs.collect()
        }
        sig.update(
            (row.doc, list(row.signature))
            for row in dedup.minhash_signatures(
                ndf, num_perm=num_perm
            ).collect()
        )
        new_ids = {100 + i for i in range(len(batch))}
        want = {}
        for nid in sorted(new_ids):
            for m in sorted(sig):
                if m == nid or (m in new_ids and m >= nid):
                    continue
                if not any(
                    sig[nid][i * r:(i + 1) * r] == sig[m][i * r:(i + 1) * r]
                    for i in range(bands)
                ):
                    continue
                est = sum(
                    p == q for p, q in zip(sig[nid], sig[m])
                ) / num_perm
                if est >= thr:
                    want[(nid, m)] = est
        got = {
            (row.doc_new, row.doc_match): row.est_jaccard
            for row in dedup.incremental_minhash_pairs(
                ndf, base_sigs, threshold=thr,
                num_perm=num_perm, bands=bands,
            ).collect()
        }
        assert got == want


class TestPagerankIntProperty:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 5)),
            min_size=1, max_size=12,
        )
    )
    def test_equals_integer_replay(self, spark, edges):
        """Integer PageRank is exactly replayable: 3 rounds of
        rank' = 0.15*unit + (85 * SUM(rank_u DIV deg_u)) DIV 100 over
        the symmetrized deduped edge list, all BIGINT ops — the python
        fold must match to the last micro-unit on arbitrary graphs.
        Self-loops are KEPT (engine and oracle convention, as in
        networkx: a loop feeds a node's own rank back)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import graph

        unit = 1_000_000
        sym = set()
        for a, b in edges:
            sym.add((a, b))
            sym.add((b, a))
        deg = {}
        for u, _ in sym:
            deg[u] = deg.get(u, 0) + 1
        ranks = {u: unit for u in deg}
        base = unit * 15 // 100
        for _ in range(3):
            inbox = {}
            for u, v in sym:
                inbox[v] = inbox.get(v, 0) + ranks[u] // deg[u]
            ranks = {v: base + (85 * s) // 100 for v, s in inbox.items()}
        e = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )
        got = {r.node: r.rank for r in graph.pagerank_int(e).collect()}
        assert got == ranks


class TestKCoreProperty:
    @SETTINGS
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 6)),
            min_size=1, max_size=15,
        )
    )
    def test_equals_python_peel(self, spark, edges):
        """Distributed incremental-degree k-core (k=2) == the
        sequential peel on arbitrary multigraphs: same surviving node
        set, same core degrees (the unique fixed point)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_core

        adj = {}
        for a, b in edges:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        cur = {u: set(v) for u, v in adj.items()}
        changed = True
        while changed:
            changed = False
            for u in list(cur):
                if len(cur[u]) < 2:
                    for v in cur[u]:
                        cur[v].discard(u)
                    del cur[u]
                    changed = True
        want = {u: len(v) for u, v in cur.items()}
        e = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )
        got = {r.node: r.degree for r in k_core(e, k=2).collect()}
        assert got == want


class TestCountMinProperty:
    @SETTINGS
    @given(
        stream=st.lists(st.integers(0, 9), min_size=1, max_size=40)
    )
    def test_estimate_never_below_true_count(self, spark, stream):
        """Count-min point estimates are one-sided for ANY stream:
        estimate >= true count (collisions only inflate), and with
        depth*width cells far above the key cardinality the estimate
        equals the true count for most keys — both checked."""
        from collections import Counter

        from dlt_salesforce_iceberg_rest_demo_spark.operators import sketches

        df = spark.createDataFrame(
            [Row(k=v) for v in stream], "k long"
        )
        sk = sketches.count_min_table(df, "k", depth=4, width=64)
        got = {
            r.k: r.est
            for r in sketches.count_min_lookup(
                sk, df, "k", depth=4, width=64
            ).collect()
        }
        true = Counter(str(v) for v in stream)
        assert set(got) == set(true)
        for key, est in got.items():
            assert est >= true[key]


# ---------------------------------------------------------------------------
# BPE trainer/encoder properties (round 6): the trainer at batch_size=1
# (exact sequential BPE), at larger batches, and the encoder each replay
# exactly against a pure-Python reference on ARBITRARY corpora — ties
# included: a 2-letter alphabet makes equal top counts routine, and
# the ranking walks (cnt DESC, l, r).
# ---------------------------------------------------------------------------

_bpe_corpus = st.lists(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=3,
)

BPE_SETTINGS = settings(
    max_examples=6,  # every example pays several Spark jobs (one per round)
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_bpe_apply(sym: tuple, l: str, r: str) -> tuple:
    """Greedy left-to-right non-overlapping single-merge application."""
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _py_bpe_state(texts: list):
    from collections import Counter

    freq = Counter(
        w for t in texts for w in t.lower().split(" ") if w
    )
    return freq, {w: tuple(w) for w in freq}


def _py_pair_counts(freq, vocab):
    from collections import Counter

    pc = Counter()
    for w, sym in vocab.items():
        for i in range(len(sym) - 1):  # overlapping occurrences count
            pc[(sym[i], sym[i + 1])] += freq[w]
    return pc


def _py_bpe_train(texts: list, n_merges: int):
    """Sequential reference: per round, exact pair counts, argmax with
    the (cnt DESC, l, r) tie-break, greedy merge application."""
    freq, vocab = _py_bpe_state(texts)
    merges = []
    for rank in range(1, n_merges + 1):
        pc = _py_pair_counts(freq, vocab)
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, cnt))
        vocab = {w: _py_bpe_apply(s, l, r) for w, s in vocab.items()}
    return merges


def _py_bpe_train_batched(texts: list, n_merges: int, batch: int):
    """Batched reference: rank (cnt DESC, l, r), walk greedily adopting
    symbol-disjoint pairs up to the batch size, apply adopted merges
    sequentially in adoption order, recount per batch."""
    freq, vocab = _py_bpe_state(texts)
    merges = []
    while len(merges) < n_merges:
        pc = _py_pair_counts(freq, vocab)
        if not pc:
            break
        ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want = min(batch, n_merges - len(merges))
        used: set = set()
        adopted = []
        for (l, r), cnt in ranked:
            if len(adopted) >= want:
                break
            if l in used or r in used:
                continue
            adopted.append((l, r, cnt))
            used.update((l, r, l + r))
        if not adopted:
            break
        for l, r, cnt in adopted:
            merges.append((len(merges) + 1, l, r, cnt))
            vocab = {w: _py_bpe_apply(s, l, r) for w, s in vocab.items()}
    return merges


def _bpe_docs_df(spark, texts: list):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


class TestBpeTrainProperty:
    @BPE_SETTINGS
    @given(corpus=_bpe_corpus)
    def test_sequential_equals_python_reference(self, spark, corpus):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        texts = [" ".join(ws) for ws in corpus]
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in t_ops.bpe_train_merges_batched(
                _bpe_docs_df(spark, texts), n_merges=4, batch_size=1
            ).orderBy("merge_rank").collect()
        ]
        assert got == _py_bpe_train(texts, 4)

    @BPE_SETTINGS
    @given(corpus=_bpe_corpus)
    def test_batched_equals_python_batch_rule(self, spark, corpus):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        texts = [" ".join(ws) for ws in corpus]
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in t_ops.bpe_train_merges_batched(
                _bpe_docs_df(spark, texts), n_merges=4, batch_size=2
            ).orderBy("merge_rank").collect()
        ]
        assert got == _py_bpe_train_batched(texts, 4, 2)


class TestBpeEncodeProperty:
    @BPE_SETTINGS
    @given(corpus=_bpe_corpus)
    def test_encode_equals_python_replay(self, spark, corpus):
        """bpe_encode under a trained merge table == applying the
        merges in rank order per word in Python: (n_words, n_tokens)
        per document, for arbitrary corpora."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        texts = [" ".join(ws) for ws in corpus]
        docs = _bpe_docs_df(spark, texts)
        merges = _py_bpe_train_batched(texts, 4, 2)
        got = {
            r.doc_id: (r.n_words, r.n_tokens)
            for r in t_ops.bpe_encode(
                docs, [(l, r) for _, l, r, _ in merges]
            ).collect()
        }
        want = {}
        for i, t in enumerate(texts):
            words = [w for w in t.lower().split(" ") if w]
            if not words:
                continue  # wordless docs drop from the encode output
            n_tok = 0
            for w in words:
                sym = tuple(w)
                for _, l, r, _ in merges:
                    sym = _py_bpe_apply(sym, l, r)
                n_tok += len(sym)
            want[i] = (len(words), n_tok)
        assert got == want


class TestScd2ReferenceProperty:
    @settings(
        max_examples=_N[1], deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        obs=st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),          # key
                st.sampled_from(["a", "b", "c", None]),          # attr
                st.integers(min_value=0, max_value=5),           # ts (ties!)
            ),
            min_size=1,
            max_size=25,
        )
    )
    def test_full_table_equals_python_reference(self, spark, obs):
        """Beyond the run/chain laws: the ENTIRE SCD2 output (runs,
        validity bounds, observation counts, currency flags) equals a
        pure-Python gaps-and-islands replay — including NULL attribute
        observations (null-safe run equality) and timestamp ties broken
        by the id column."""
        from collections import defaultdict

        from dlt_salesforce_iceberg_rest_demo_spark.operators.scd import (
            scd2_from_snapshots,
        )

        rows = [(k, a, ts, i) for i, (k, a, ts) in enumerate(obs)]
        df = spark.createDataFrame(rows, "k long, attr string, ts long, id long")
        got = {
            (r.k, r.valid_from): (r.attr, r.valid_to, r.is_current,
                                  r.n_observations)
            for r in scd2_from_snapshots(df, "k", "attr", "ts", "id").collect()
        }

        by_key = defaultdict(list)
        for k, a, ts, i in rows:
            by_key[k].append((ts, i, a))
        want = {}
        for k, seq in by_key.items():
            seq.sort()  # (ts, id) order
            runs = []  # [attr, valid_from, n_obs]
            for ts, _, a in seq:
                if runs and runs[-1][0] == a:  # None == None: null-safe
                    runs[-1][2] += 1
                else:
                    runs.append([a, ts, 1])
            for j, (a, vf, n) in enumerate(runs):
                nxt = runs[j + 1][1] if j + 1 < len(runs) else None
                want[(k, vf)] = (a, nxt, j == len(runs) - 1, n)
        assert got == want


# ---------------------------------------------------------------------------
# Round-6 second tranche: the remaining example-based text/temporal
# operators, each replayed against a pure-Python reference on
# hypothesis-generated inputs.
# ---------------------------------------------------------------------------


class TestFingerprintProperty:
    @SETTINGS
    @given(
        texts=st.lists(
            st.text(
                alphabet=st.sampled_from(list("ab cé\U0001f984")),
                min_size=0,
                max_size=24,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def test_matches_python_winnowing_replay(self, spark, texts):
        """content_md5 / h60 / winnow_min equal the python replay on
        arbitrary strings — including empty strings, sub-k-gram
        strings (one whole-string shingle) and multi-byte UTF-8
        (Spark substr is CHARACTER-based; md5 hashes the UTF-8
        bytes, exactly like python md5 over the encoded slice)."""
        import hashlib

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        def md5(s: str) -> str:
            return hashlib.md5(s.encode("utf-8")).hexdigest()

        def h60(s: str) -> int:
            return int(md5(s)[1:16], 16)

        df = spark.createDataFrame(
            [Row(doc_id=i, text=s) for i, s in enumerate(texts)],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.content_md5, r.h60, r.winnow_min)
            for r in t_ops.fingerprint(df).collect()
        }
        want = {}
        for i, s in enumerate(texts):
            n = max(len(s) - 7, 1)
            want[i] = (
                md5(s),
                h60(s),
                min(h60(s[j : j + 8]) for j in range(n)),
            )
        assert got == want


class TestGapfillProperty:
    # half-unit values: exact under the DECIMAL(18,6) stabilization
    # cast, so the python replay can sum them exactly as Fractions
    obs = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),        # user
            st.integers(min_value=0, max_value=60 * 60 * 30),  # ts offset s
            st.integers(min_value=-40, max_value=40),     # value * 2
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda o: (o[0], o[1]),
    )

    @staticmethod
    def _df(spark, obs):
        return spark.createDataFrame(
            [
                Row(
                    user_id=u,
                    ts=off,
                    value=v / 2.0,
                    event_id=i,
                )
                for i, (u, off, v) in enumerate(obs)
            ],
            "user_id long, ts long, value double, event_id long",
        ).select(
            "user_id",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("ts")).alias("ts"),
            "value",
            "event_id",
        )

    @staticmethod
    def _buckets(obs):
        from collections import defaultdict
        from fractions import Fraction

        HOUR = 3600
        by = defaultdict(lambda: [0, Fraction(0)])
        for u, off, v in obs:
            b = (1_700_000_000 + off) // HOUR * HOUR
            by[(u, b)][0] += 1
            by[(u, b)][1] += Fraction(v, 2)
        return by

    @SETTINGS
    @given(obs=obs)
    def test_locf_matches_python_replay(self, spark, obs):
        """gapfill (LOCF): dense per-user hourly grid between the
        user's first and last bucket, 0-event empty buckets, forward-
        filled value — equal to the python replay for arbitrary
        event sets."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import temporal

        HOUR = 3600
        got = {
            (r.user_id, int(r.bucket_ts.timestamp())): (
                r.n_events,
                r.bucket_value,
                r.filled_value,
            )
            for r in temporal.gapfill(self._df(spark, obs)).collect()
        }
        by = self._buckets(obs)
        want = {}
        for u in {o[0] for o in obs}:
            bs = sorted(b for (uu, b) in by if uu == u)
            last = None
            for b in range(bs[0], bs[-1] + 1, HOUR):
                if (u, b) in by:
                    n, s = by[(u, b)]
                    val = float(s)
                    last = val
                    want[(u, b)] = (n, val, last)
                else:
                    want[(u, b)] = (0, None, last)
        assert got == want

    @SETTINGS
    @given(obs=obs)
    def test_interpolate_matches_python_replay(self, spark, obs):
        """gapfill_interpolate: linear interpolation between known
        buckets with edge clamping — the python replay applies the
        IDENTICAL IEEE op sequence (prev + (next-prev) * frac on
        microsecond deltas), so equality is exact, not approximate."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import temporal

        HOUR = 3600
        got = {
            (r.user_id, int(r.bucket_ts.timestamp())): (
                r.bucket_value,
                r.interp_value,
            )
            for r in temporal.gapfill_interpolate(
                self._df(spark, obs)
            ).collect()
        }
        by = self._buckets(obs)
        want = {}
        for u in {o[0] for o in obs}:
            bs = sorted(b for (uu, b) in by if uu == u)
            known = [(b, float(by[(u, b)][1])) for b in bs]
            for b in range(bs[0], bs[-1] + 1, HOUR):
                if (u, b) in by:
                    want[(u, b)] = (float(by[(u, b)][1]),) * 2
                    continue
                prev = max((kb for kb, _ in known if kb < b), default=None)
                nxt = min((kb for kb, _ in known if kb > b), default=None)
                pv = dict(known).get(prev)
                nv = dict(known).get(nxt)
                if prev is None:
                    iv = nv
                elif nxt is None:
                    iv = pv
                else:
                    frac = float((b - prev) * 1_000_000) / float(
                        (nxt - prev) * 1_000_000
                    )
                    iv = pv + (nv - pv) * frac
                want[(u, b)] = (None, iv)
        assert got == want


class TestMixToTargetProperty:
    @SETTINGS
    @given(
        docs=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=60),  # doc_id
                st.sampled_from(["en", "de", "fr", "xx"]),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda d: d[0],
        ),
        shares=st.fixed_dictionaries(
            {"en": st.integers(min_value=1, max_value=900),
             "de": st.integers(min_value=1, max_value=900)}
        ),
    )
    def test_kept_set_equals_python_replay(self, spark, docs, shares):
        """mix_to_target's kept set is EXACTLY the python replay of
        the all-integer md5 filter: feasible total T =
        min_g floor(n_g*1000/share_g); keep iff
        bucket * 1000 * n_g < 1e6 * T * share_g; groups missing from
        the recipe drop entirely. Deterministic — no distributional
        slack needed."""
        import hashlib
        from collections import Counter

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        df = spark.createDataFrame(
            [Row(doc_id=i, lang=g) for i, g in docs],
            "doc_id long, lang string",
        )
        got = {
            r.doc_id for r in t_ops.mix_to_target(df, shares).collect()
        }
        n_g = Counter(g for _, g in docs)
        present = {g: n_g[g] for g in shares if n_g.get(g)}
        if not present:
            assert got == set()
            return
        t_cap = min(n * 1000 // shares[g] for g, n in present.items())
        want = set()
        for i, g in docs:
            if g not in shares:
                continue
            bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1_000_000
            if bucket * 1000 * n_g[g] < 1_000_000 * t_cap * shares[g]:
                want.add(i)
        assert got == want


class TestChunkDocumentsProperty:
    @SETTINGS
    @given(
        texts=st.lists(
            st.text(alphabet=st.sampled_from(list("ab ")), min_size=0,
                    max_size=40),
            min_size=1,
            max_size=5,
        ),
        window=st.integers(min_value=1, max_value=6),
        stride=st.integers(min_value=1, max_value=6),
    )
    def test_matches_python_sliding_windows(self, spark, texts, window, stride):
        """chunk_documents == the python sliding-window replay for any
        (window, stride), including texts with empty tokens (double
        spaces: split(' ') keeps them, concat_ws re-joins them) and
        sub-window documents (exactly one chunk)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        df = spark.createDataFrame(
            [Row(doc_id=i, text=s) for i, s in enumerate(texts)],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
            for r in t_ops.chunk_documents(
                df, window=window, stride=stride
            ).collect()
        }
        want = {}
        for i, s in enumerate(texts):
            tk = s.split(" ")
            last_start = max(len(tk) - window + 1, 1)
            for start in range(1, last_start + 1, stride):
                want[(i, (start - 1) // stride)] = (
                    " ".join(tk[start - 1 : start - 1 + window]),
                    min(window, len(tk) - start + 1),
                )
        assert got == want


class TestContaminationProperty:
    @SETTINGS
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=9),
            min_size=1,
            max_size=5,
        ),
        bench=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=9),
            min_size=1,
            max_size=3,
        ),
    )
    def test_matches_python_ngram_overlap(self, spark, docs, bench):
        """contamination == |distinct doc 3-grams ∩ benchmark 3-grams|
        / |distinct doc 3-grams| replayed in python; docs with fewer
        than 3 tokens produce no grams and drop from the output."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        ddf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)],
            "doc_id long, text string",
        )
        bdf = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(bench)],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_grams, r.n_contaminated, r.contamination)
            for r in t_ops.contamination(ddf, bdf).collect()
        }

        def grams(ws):
            toks = " ".join(ws).lower().split(" ")
            if len(toks) < 3:
                return set()
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        bg = set().union(*(grams(ws) for ws in bench))
        want = {}
        for i, ws in enumerate(docs):
            g = grams(ws)
            if not g:
                continue
            hit = len(g & bg)
            want[i] = (len(g), hit, hit / len(g))
        assert got == want


class TestBandJoinProperty:
    """band_join (round-7 verdict task): the bucketized range join must
    equal the O(|L|x|R|) bruteforce pair set for ARBITRARY timestamps
    (including pre-epoch negatives — the _floordiv pmod trick),
    degenerate zero-width bands (width clamps to 1; only exact ties
    match), bands not containing zero, with and without equi-keys."""

    BANDS = [(-30.0, 0.0), (0.0, 0.0), (-10.0, 10.0), (5.0, 15.0)]

    @SETTINGS
    @given(
        lefts=st.lists(
            st.tuples(st.integers(1, 2), st.integers(-50, 80)),
            min_size=0, max_size=12,
        ),
        rights=st.lists(
            st.tuples(st.integers(1, 2), st.integers(-50, 80)),
            min_size=0, max_size=12,
        ),
        band=st.sampled_from(BANDS),
        use_on=st.booleans(),
    )
    def test_equals_bruteforce_pairs(self, spark, lefts, rights, band, use_on):
        lo, hi = band
        lo_us, hi_us = int(lo * 1_000_000), int(hi * 1_000_000)
        l = spark.createDataFrame(
            [Row(g=g, t=t * 1_000_000, lid=i) for i, (g, t) in enumerate(lefts)],
            "g long, t long, lid long",
        ).select("g", "lid", F.timestamp_micros("t").alias("ts"))
        r = spark.createDataFrame(
            [Row(g=g, t=t * 1_000_000, rid=j) for j, (g, t) in enumerate(rights)],
            "g long, t long, rid long",
        ).select("g", "rid", F.timestamp_micros("t").alias("ts"))
        out = temporal.band_join(
            l, r, lower_seconds=lo, upper_seconds=hi,
            on=["g"] if use_on else [],
        )
        got = sorted((x.lid, x.rid) for x in out.collect())
        want = sorted(
            (i, j)
            for i, (g, t) in enumerate(lefts)
            for j, (h, u) in enumerate(rights)
            if (g == h or not use_on)
            and t * 1_000_000 + lo_us <= u * 1_000_000 <= t * 1_000_000 + hi_us
        )
        assert got == want


class TestMultiGrainRollupProperty:
    """multi_grain_rollup (round-7 verdict task): the GROUPING SETS
    single-scan expansion must equal a per-grain python replay —
    bucket membership via UTC truncation and the dsum playbook's
    decimal-stabilized sums (CAST(double AS DECIMAL(18,6)) is HALF_UP
    on the shortest decimal repr, which python replays as
    Decimal(repr(v)).quantize)."""

    @SETTINGS
    @given(
        events=st.lists(
            st.tuples(
                st.integers(0, 5000),  # seconds*37 spread over ~2 days
                st.floats(
                    min_value=-1e6, max_value=1e6,
                    allow_nan=False, width=64,
                ),
            ),
            min_size=1, max_size=25,
        )
    )
    def test_equals_python_replay(self, spark, events):
        import datetime as dt
        from decimal import ROUND_HALF_UP, Decimal

        df = spark.createDataFrame(
            [
                Row(t=(1_500_000_000 + t * 37) * 1_000_000, value=v)
                for t, v in events
            ],
            "t long, value double",
        ).select(F.timestamp_micros("t").alias("ts"), "value")
        out = temporal.multi_grain_rollup(df)
        got = {
            (x.grain, x.bucket_ts): (x.n_events, x.total_value)
            for x in out.collect()
        }

        def trunc(d, grain):
            if grain == "minute":
                return d.replace(second=0, microsecond=0)
            if grain == "hour":
                return d.replace(minute=0, second=0, microsecond=0)
            return d.replace(hour=0, minute=0, second=0, microsecond=0)

        q = Decimal("0.000001")
        want = {}
        for grain in ("minute", "hour", "day"):
            buckets = {}
            for t, v in events:
                d = dt.datetime.utcfromtimestamp(1_500_000_000 + t * 37)
                buckets.setdefault(trunc(d, grain), []).append(v)
            for b, vs in buckets.items():
                total = sum(
                    Decimal(repr(v)).quantize(q, ROUND_HALF_UP) for v in vs
                )
                want[(grain, b)] = (len(vs), float(total))
        assert got == want


class TestGapfillInterpolateProperty:
    """gapfill_interpolate (round-7 verdict task): grid densification,
    LOCF/NOCB edge clamps and the linear interpolation must equal a
    python replay BIT-FOR-BIT — the interpolation is a fixed sequence
    of IEEE ops on engine-identical inputs (the operator docstring's
    oracle-portability claim, now pinned against arbitrary inputs,
    not just the fixtures)."""

    @SETTINGS
    @given(
        events=st.lists(
            st.tuples(
                st.integers(1, 2),       # user
                st.integers(0, 72),      # hour slot
                st.integers(0, 3599),    # offset inside the hour
                st.floats(
                    min_value=-1e6, max_value=1e6,
                    allow_nan=False, width=64,
                ),
            ),
            min_size=1, max_size=20,
        )
    )
    def test_equals_python_replay(self, spark, events):
        import datetime as dt
        from decimal import ROUND_HALF_UP, Decimal

        base = 1_500_000_000 - (1_500_000_000 % 3600)  # hour-aligned
        df = spark.createDataFrame(
            [
                Row(
                    user_id=g,
                    t=(base + h * 3600 + off) * 1_000_000,
                    value=v,
                )
                for g, h, off, v in events
            ],
            "user_id long, t long, value double",
        ).select("user_id", F.timestamp_micros("t").alias("ts"), "value")
        out = temporal.gapfill_interpolate(df, grain="hour")
        got = {
            (x.user_id, x.bucket_ts): (x.bucket_value, x.interp_value)
            for x in out.collect()
        }

        q = Decimal("0.000001")
        want = {}
        by_user = {}
        for g, h, off, v in events:
            by_user.setdefault(g, {}).setdefault(h, []).append(v)
        for g, hours in by_user.items():
            known = {
                h: float(
                    sum(Decimal(repr(v)).quantize(q, ROUND_HALF_UP) for v in vs)
                )
                for h, vs in hours.items()
            }
            lo, hi = min(known), max(known)
            for h in range(lo, hi + 1):
                bucket = dt.datetime.utcfromtimestamp(base + h * 3600)
                bv = known.get(h)
                if bv is not None:
                    want[(g, bucket)] = (bv, bv)
                    continue
                pt = max(k for k in known if k < h)
                nt = min(k for k in known if k > h)
                # identical IEEE sequence to the Spark plan: micros
                # deltas as doubles, one divide, one mul, one add
                frac = float((h - pt) * 3_600_000_000) / float(
                    (nt - pt) * 3_600_000_000
                )
                interp = known[pt] + (known[nt] - known[pt]) * frac
                want[(g, bucket)] = (None, interp)
        assert got == want


class TestExactSubstringSpansProperty:
    @SETTINGS
    @given(
        texts=st.lists(
            st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=14),
            min_size=1,
            max_size=5,
        ),
        window=st.integers(min_value=1, max_value=4),
    )
    def test_matches_python_replay(self, spark, texts, window):
        """exact_substring_spans == the brute-force python replay:
        flag every stride-1 window whose text occurs >1 times corpus-
        wide (intra-doc repeats included), merge covered positions into
        maximal runs. The tiny 2-letter alphabet forces heavy collision
        structure (whole-corpus repeats, self-overlapping runs like
        'a a a a') that fixture text never produces."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        df = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(texts)],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
            for r in t_ops.exact_substring_spans(df, window=window).collect()
        }
        # python replay: count every window text corpus-wide
        from collections import Counter

        toks = {i: (" ".join(ws)).split(" ") for i, ws in enumerate(texts)}
        cnt = Counter(
            tuple(tk[p : p + window])
            for tk in toks.values()
            for p in range(len(tk) - window + 1)
        )
        want = {}
        for i, tk in toks.items():
            covered = set()
            for p in range(len(tk) - window + 1):
                if cnt[tuple(tk[p : p + window])] > 1:
                    covered.update(range(p, p + window))
            spans = 0
            prev = None
            for p in sorted(covered):
                if prev is None or p > prev + 1:
                    spans += 1
                prev = p
            want[i] = (len(tk), spans, len(covered))
        assert got == want


class TestExactSubstringRemoveProperty:
    @SETTINGS
    @given(
        texts=st.lists(
            st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=14),
            min_size=1,
            max_size=5,
        ),
        window=st.integers(min_value=1, max_value=4),
    )
    def test_matches_python_replay(self, spark, texts, window):
        """exact_substring_remove == the brute-force replay: drop
        every token covered by a corpus-duplicated window, keep the
        rest in order — AND n_removed equals exact_substring_spans'
        dup_tokens on the same corpus (the two operators must agree
        on coverage). Same adversarial 2-letter alphabet."""
        from collections import Counter

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        df = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(texts)],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
            for r in t_ops.exact_substring_remove(df, window=window).collect()
        }
        spans = {
            r.doc_id: r.dup_tokens
            for r in t_ops.exact_substring_spans(df, window=window).collect()
        }
        toks = {i: (" ".join(ws)).split(" ") for i, ws in enumerate(texts)}
        cnt = Counter(
            tuple(tk[p : p + window])
            for tk in toks.values()
            for p in range(len(tk) - window + 1)
        )
        want = {}
        for i, tk in toks.items():
            covered = set()
            for p in range(len(tk) - window + 1):
                if cnt[tuple(tk[p : p + window])] > 1:
                    covered.update(range(p, p + window))
            kept = [w for p, w in enumerate(tk) if p not in covered]
            want[i] = (" ".join(kept), len(tk), len(covered))
        assert got == want
        assert all(got[i][2] == spans[i] for i in got)


class TestCompactTombstonesRetentionLaw:
    """compact_tombstones' retention contract as a law: dropping
    tombstones strictly below a version horizon changes NOTHING as
    long as every later-delivered event is at or above the horizon —
    the final live table still equals the one-shot LWW compaction of
    the whole changelog, under arbitrary batching of both phases."""

    @SETTINGS
    @given(
        entries=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),   # key
                st.sampled_from(["I", "U", "D"]),        # op
                st.integers(min_value=0, max_value=9),   # payload
            ),
            min_size=2,
            max_size=8,
        ),
        split=st.integers(min_value=1, max_value=7),
        data=st.data(),
    )
    @pytest.mark.exhaustive
    def test_compaction_preserves_convergence(
        self, spark, tmp_path_factory, entries, split, data
    ):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )

        # versions drawn as a PERMUTATION of the arrival indices, so
        # the two delivery phases interleave in version space and the
        # horizon genuinely splits tombstones into dropped + retained
        versions = data.draw(st.permutations(range(len(entries))))
        log = [
            Row(id=k, version=versions[i], op=op, v=f"p{pay}")
            for i, (k, op, pay) in enumerate(entries)
        ]
        schema = "id long, version long, op string, v string"
        cut = min(split, len(log) - 1)
        phase1, phase2 = log[:cut], log[cut:]
        # horizon: nothing delivered later is older than it, the
        # documented precondition (upstream max-lateness reasoning)
        horizon = min(r.version for r in phase2)

        lake = ParquetLake(spark, tmp_path_factory.mktemp("ctl") / "lake")
        perm1 = data.draw(st.permutations(phase1))
        lake.merge_cdc(
            spark.createDataFrame(perm1, schema), "t", "id", guard_stale=True
        )
        lake.compact_tombstones("t", before_version=horizon)
        for b in data.draw(st.permutations([[r] for r in phase2])):
            lake.merge_cdc(
                spark.createDataFrame(b, schema), "t", "id", guard_stale=True
            )
        got = {r.id: r.v for r in lake.read("t").select("id", "v").collect()}

        # one-shot LWW of the WHOLE log (unique versions by index)
        last = {}
        for r in log:
            if r.id not in last or r.version > last[r.id].version:
                last[r.id] = r
        want = {k: r.v for k, r in last.items() if r.op != "D"}
        assert got == want


class TestIncrementalExactSubstringProperty:
    @SETTINGS
    @given(
        base=st.lists(
            st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=12),
            min_size=0,
            max_size=4,
        ),
        batch=st.lists(
            st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=12),
            min_size=1,
            max_size=4,
        ),
        window=st.integers(min_value=1, max_value=4),
    )
    @pytest.mark.exhaustive
    def test_equals_full_run_restricted_to_batch(
        self, spark, base, batch, window
    ):
        """The incremental contract: incremental(batch, index(base)) ==
        exact_substring_spans(base ∪ batch) restricted to batch docs —
        a batch window is duplicated iff it occurs in the corpus OR
        twice in the batch, which is exactly the corpus-wide count>1
        flag. The 2-letter alphabet maximizes cross-set collisions."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        base_df = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(base)],
            "doc_id long, text string",
        )
        batch_df = spark.createDataFrame(
            [
                Row(doc_id=1000 + i, text=" ".join(ws))
                for i, ws in enumerate(batch)
            ],
            "doc_id long, text string",
        )
        idx = t_ops.exact_substring_index(base_df, window=window)
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
            for r in t_ops.incremental_exact_substring_spans(
                batch_df, idx, window=window
            ).collect()
        }
        want = {
            r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
            for r in t_ops.exact_substring_spans(
                base_df.unionByName(batch_df), window=window
            ).collect()
            if r.doc_id >= 1000
        }
        assert got == want


class TestMergeCdcSplitInvariance:
    """merge_cdc's delivery contracts as algebraic laws: how the
    changelog is micro-batched must not change the final table —
    unguarded under per-key-ordered delivery, guarded (tombstoned)
    under arbitrary reordering of ANY changelog, deletes included."""

    @SETTINGS
    @given(
        entries=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),   # key
                st.sampled_from(["I", "U", "D"]),        # op
                st.integers(min_value=0, max_value=9),   # payload
            ),
            min_size=1,
            max_size=12,
        ),
        cuts=st.lists(st.integers(min_value=1, max_value=11), max_size=3),
        data=st.data(),
    )
    @pytest.mark.exhaustive
    def test_laws(self, spark, tmp_path_factory, entries, cuts, data):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )

        # unique (key, version): version = global arrival index
        log = [
            Row(id=k, version=i, op=op, v=f"p{pay}")
            for i, (k, op, pay) in enumerate(entries)
        ]
        schema = "id long, version long, op string, v string"

        def apply_batches(batches, guard):
            lake = ParquetLake(
                spark, tmp_path_factory.mktemp("cdclaw") / "lake"
            )
            for b in batches:
                if b:
                    lake.merge_cdc(
                        spark.createDataFrame(b, schema), "t", "id",
                        guard_stale=guard,
                    )
            if not lake.exists("t"):
                return {}
            return {
                r.id: r.v for r in lake.read("t").select("id", "v").collect()
            }

        one_shot = apply_batches([log], True)

        # law 1 (unguarded): ANY split that preserves arrival order
        # (== per-key version order here) gives the one-shot result
        points = sorted({c for c in cuts if c < len(log)})
        ordered_split = [
            log[a:b]
            for a, b in zip([0] + points, points + [len(log)])
        ]
        assert apply_batches(ordered_split, False) == one_shot

        # law 2 (guarded): ANY batch permutation converges to the
        # one-shot result — deletes INCLUDED, because winning deletes
        # persist version-carrying tombstones (round 8; the round-7
        # law had to exclude deletes). (key, version) is unique by
        # construction, the guarded contract's one requirement.
        perm = data.draw(st.permutations(ordered_split))
        assert apply_batches(perm, True) == one_shot


class TestDsirProperty:
    @SETTINGS
    @given(
        raws=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8),
            min_size=1,
            max_size=5,
        ),
        targets=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8),
            min_size=1,
            max_size=3,
        ),
        n_select=st.integers(min_value=1, max_value=4),
    )
    def test_matches_python_replay(self, spark, raws, targets, n_select):
        """dsir_select == a pure-python replay of the whole method:
        md5 bucket hashing, add-1 multinomials, micro-quantized log
        ratios, md5-Gumbel keys, top-k with doc_id ties — any
        divergence in hashing, smoothing, quantization or tie-break
        shows up on the first example."""
        import hashlib
        import math
        from collections import Counter

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        B = 16
        raw_df = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(raws)],
            "doc_id long, text string",
        )
        tgt_df = spark.createDataFrame(
            [
                Row(doc_id=100 + i, text=" ".join(ws))
                for i, ws in enumerate(targets)
            ],
            "doc_id long, text string",
        )
        got = [
            (r.doc_id, r.n_grams, r.logw_micro, r.sel_key_micro)
            for r in t_ops.dsir_select(
                raw_df, tgt_df, n_select=n_select, buckets=B
            ).collect()
        ]

        def bucket(gram):
            return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % B

        def doc_buckets(ws):
            tk = " ".join(ws).lower().split(" ")
            grams = tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]
            return [bucket(g) for g in grams]

        t_cnt = Counter(b for ws in targets for b in doc_buckets(ws))
        r_cnt = Counter(b for ws in raws for b in doc_buckets(ws))
        T, R = sum(t_cnt.values()), sum(r_cnt.values())
        lut = {
            b: math.floor(
                math.log(
                    ((t_cnt.get(b, 0) + 1) * (R + B))
                    / ((r_cnt.get(b, 0) + 1) * (T + B))
                )
                * 1e6
                + 0.5
            )
            for b in range(B)
        }
        want = []
        for i, ws in enumerate(raws):
            bs = doc_buckets(ws)
            logw = sum(lut[b] for b in bs)
            u = (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5
            ) / 2**32
            g = math.floor(-math.log(-math.log(u)) * 1e6 + 0.5)
            want.append((i, len(bs), logw, logw + g))
        want.sort(key=lambda r: (-r[3], r[0]))
        assert got == want[:n_select]


def _quantize_unit_udf(dim: int):
    """Reference column for the mask tests: ``similarity._quantize_unit_np``
    as an Arrow-batched UDF, array<long> of ``floor(x_i / ‖x‖ * 1e6)``,
    NULL for malformed and zero-norm rows, the rows the package's
    kernels drop."""
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def qu(vecs: pd.Series) -> pd.Series:
        m, valid = similarity._stack_valid(vecs, dim)
        uq, nz = similarity._quantize_unit_np(m)
        return pd.Series(
            [uq[i] if valid[i] and nz[i] else None for i in range(len(valid))]
        )

    return qu


class TestJvmUdfTwinMasks:
    """r9 verdict task 2: the round-9 plan fixes moved the Python
    UDFs' NULL-mask logic into JVM twin predicates (`_encodable`) and
    a non-nullable sentinel (`_assign_cluster`). These must stay
    row-for-row equivalent to the UDFs' masks on HOSTILE inputs — a
    vector the twin admits but the UDF NULLs would silently re-admit
    a NULL row with no post-hoc filter left to catch it. The round-10
    audit that built this test FOUND such a class: finite elements
    whose fixed-point square overflows (x*x*1e15 past int64) passed
    the old `_encodable` but garbage-cast/wrapped inside numpy — both
    sides now share an explicit product-bound domain clause
    (`_sq_cap`), pinned here."""

    DIM = 4

    def _hostile_rows(self):
        import math

        import numpy as np

        b = math.sqrt(1e-15)  # floor(x*x*1e15) in {0,1} boundary
        xcap = math.sqrt(similarity._sq_cap(self.DIM) / 1e15)
        Z = [0.0, 0.0, 0.0]
        cases = {
            "zeros": [0.0] + Z,
            "neg_zero": [-0.0] * 4,
            "denorm_min": [5e-324] * 4,
            "denorm_310": [1e-310] * 4,
            "floor_boundary": [b] + Z,
            "floor_boundary_dn": [float(np.nextafter(b, 0))] + Z,
            "floor_boundary_up": [float(np.nextafter(b, 1))] + Z,
            "neg_boundary": [-b] + Z,
            "overflow_150": [1e150] + Z,
            "overflow_170": [1e170] + Z,
            "overflow_pair": [1e200, 1e200, 0.0, 0.0],
            "int64_garbage_cast": [100.0] + Z,
            "int64_sum_wrap": [90.0, 90.0, 0.0, 0.0],
            "cap_exact": [xcap] + Z,
            "cap_dn": [float(np.nextafter(xcap, 0))] + Z,
            "cap_up": [float(np.nextafter(xcap, xcap * 2))] + Z,
            "cap_pair": [xcap, xcap, 0.0, 0.0],
            "tiny": [1e-8] * 4,
            "normal": [0.5, -0.25, 0.125, 1.0],
            "nan_elem": [float("nan"), 1.0, 0.0, 0.0],
            "inf_elem": [float("inf"), 1.0, 0.0, 0.0],
            "neg_inf_elem": [float("-inf"), 1.0, 0.0, 0.0],
        }
        rows = [(k, [float(x) for x in v]) for k, v in cases.items()]
        rows += [("null_vec", None), ("empty_vec", []),
                 ("short_vec", [1.0]), ("long_vec", [1.0] * 7)]
        return rows

    def _df(self, spark):
        return spark.createDataFrame(
            self._hostile_rows(), "id string, embedding array<double>"
        )

    def test_encodable_matches_quantize_udf_mask(self, spark):
        """`_encodable` TRUE exactly where `_quantize_unit_udf` is
        non-NULL — raw AND finite-prefiltered (agreement must not
        depend on the prefilter)."""
        df = self._df(spark)
        qu = _quantize_unit_udf(self.DIM)
        for pre in (
            df,
            similarity._non_null_vectors(df, "embedding", finite=True),
        ):
            enc = {
                r["id"]
                for r in pre.filter(
                    similarity._encodable("embedding", self.DIM)
                ).collect()
            }
            udf_nn = {
                r["id"]
                for r in pre.select(
                    "id", qu(F.col("embedding")).alias("u")
                )
                .filter(F.col("u").isNotNull())
                .collect()
            }
            assert enc == udf_nn, (
                f"enc-only={sorted(enc - udf_nn)} "
                f"udf-only={sorted(udf_nn - enc)}"
            )
        # sanity: the boundary really separates (mask is non-trivial)
        assert "floor_boundary_up" in enc and "normal" in enc
        assert "overflow_150" not in enc and "cap_up" not in enc

    def test_encodable_matches_pq_encode_mask(self, spark):
        """Same agreement for `_pq_encode_udf` (the pq_topk/pq_build
        hot path): its non-pre-quantized mask is valid-length AND
        nonzero quantized norm — identical to `_encodable`."""
        df = self._df(spark)
        books = [
            [[0, 0], [1000000, 0]],
            [[0, 0], [0, 1000000]],
        ]  # m=2, dsub=2, n_codes=2 — shape only; mask is what matters
        enc_col = similarity._pq_encode_udf(books)
        got = {
            r["id"]
            for r in self._df(spark)
            .select("id", enc_col(F.col("embedding")).alias("c"))
            .filter(F.col("c").isNotNull())
            .collect()
        }
        want = {
            r["id"]
            for r in df.filter(
                similarity._encodable("embedding", self.DIM)
            ).collect()
        }
        assert got == want, (
            f"udf-only={sorted(got - want)} enc-only={sorted(want - got)}"
        )

    def test_assign_cluster_sentinel_matches_udf_null_mask(self, spark):
        """`_assign_cluster` returns -1 EXACTLY where the underlying
        UDF returns NULL (malformed rows), and the UDF's value
        everywhere else — the non-nullable sentinel that kills the
        implicit-IsNotNull double-plan must never relabel a real
        assignment."""
        cents = [[0] * 4, [1000000] * 4]
        df = self._df(spark)
        udf_out = similarity._assign_cluster_udf(cents)(F.col("embedding"))
        twin = similarity._assign_cluster(F.col("embedding"), cents)
        rows = df.select(
            "id", udf_out.alias("u"), twin.alias("t")
        ).collect()
        for r in rows:
            if r["u"] is None:
                assert r["t"] == -1, r
            else:
                assert r["t"] == r["u"], r

    @SETTINGS
    @given(
        vecs=st.lists(
            st.lists(
                st.floats(allow_nan=True, allow_infinity=True, width=64),
                min_size=0,
                max_size=6,
            ),
            min_size=1,
            max_size=12,
        )
    )
    def test_encodable_mask_agreement_property(self, spark, vecs):
        """Hypothesis sweep: for ARBITRARY doubles (NaN/Inf/denormals/
        huge magnitudes included) and arbitrary lengths, the JVM twin
        and the UDF mask agree row-for-row."""
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "id long, embedding array<double>",
        )
        qu = _quantize_unit_udf(self.DIM)
        enc = {
            r["id"]
            for r in df.filter(
                similarity._encodable("embedding", self.DIM)
            ).collect()
        }
        udf_nn = {
            r["id"]
            for r in df.select("id", qu(F.col("embedding")).alias("u"))
            .filter(F.col("u").isNotNull())
            .collect()
        }
        assert enc == udf_nn
