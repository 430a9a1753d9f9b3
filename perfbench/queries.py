"""``query_mix``: registry queries, relational plans next to LLM-data operators.

One run: an untimed pass that checks each query's row count and content
hash against ``expected_queries.json``, an untimed warm-up pass, then at
least ``PASSES_MIN`` timed passes and until the run's time is up, each
checking the row count. A query's time is
building its plan (the registry call, including any eager
materialization) plus executing the full plan through its ``toRdd``
row count. The seed sets the order of the queries in every pass.

Nothing unpersists between queries: blocks an operator leaves behind
stay, and are recorded after each query.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import random
import time
from pathlib import Path

from pyspark.sql import Row

import host
from spans import maybe_span

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected_queries.json"

# query -> family. Relational queries are single Catalyst plans with
# nothing materialized while they are built; the operators run many
# serial jobs and materialize eagerly during construction.
MIX = {
    "flagship_revenue_by_region": "relational",       # 5-way join + aggregate
    "window_topk_orders_per_customer": "relational",  # window top-k
    "dedup_containment_pairs": "llm_ops",             # iterative, eager checkpoints
    "multimodal_decode_features": "llm_ops",          # pandas UDF
}
PASSES_MIN = 3


def canon(v) -> str:
    """Engine-independent text form of one result value."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def content_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their text form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in lines:
        digest.update(b"\n" + line.encode())
    return digest.hexdigest()


def execute(df) -> int:
    """Run the full physical plan and return its row count, without
    shipping rows to the driver (a plain ``count()`` would let Catalyst
    prune the computed columns)."""
    return df._jdf.queryExecution().toRdd().count()


def blocks(spark) -> tuple[int, float]:
    """(persistent RDDs, MB of storage memory and disk they hold)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return jsc.getPersistentRDDs().size(), held / 1e6


def prepare(seed: int) -> dict:
    from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns

    fns = query_fns()
    names = list(MIX)
    missing = [n for n in names if n not in fns]
    if missing:
        raise RuntimeError(f"registry lacks {missing}")
    expected = json.loads(EXPECTED.read_text())["queries"]
    return {"fns": fns, "names": names, "expected": expected, "rng": random.Random(seed)}


def run(spark, prepared: dict, seconds: float, tracer, record) -> None:
    fns, names, expected, rng = (prepared[k] for k in ("fns", "names", "expected", "rng"))
    sf = str(DATA)

    def one(name: str, pass_no: int, check_hash: bool) -> dict:
        want = expected[name]
        if tracer:
            tracer.trace_id = f"{name}.{pass_no}"
        ticks0 = host.cpu_ticks()
        with maybe_span(tracer, "query", query=name):
            start = time.perf_counter()
            with maybe_span(tracer, "plans.build", query=name):
                df = fns[name](spark, sf)
            built = time.perf_counter()
            with maybe_span(tracer, "plans.exec", query=name):
                if check_hash:
                    rows = df.collect()
                    n, h = len(rows), content_hash(df.columns, rows)
                else:
                    n, h = execute(df), None
            end = time.perf_counter()
        ticks = host.delta(ticks0, host.cpu_ticks())
        problems = []
        if n != want["rows"]:
            problems.append(f"{name}: {n} rows, expected {want['rows']}")
        if check_hash and h != want["hash"]:
            problems.append(f"{name}: content hash {h[:12]} != {want['hash'][:12]}")
        if tracer:
            tracer.harvest()
            tracer.trace_id = None
        leaked, cached_mb = blocks(spark)
        return {
            "kind": name, "pass": pass_no, "trace": f"{name}.{pass_no}",
            "traced": bool(tracer and tracer.enabled),
            "build_s": built - start, "exec_s": end - built, "wall_s": end - start, "ticks": ticks,
            "rows": n, "leaked_rdds": leaked, "cached_mb": cached_mb, "problems": problems,
        }

    def one_pass(pass_no: int, check_hash: bool, **extra) -> None:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            record({**one(name, pass_no, check_hash), **extra})

    if tracer:
        tracer.enabled = False
    # Warm-up: the first pass checks content hashes (collecting the rows),
    # the second is each plan's first full execution, still noticeably
    # slower than the ones after it.
    one_pass(0, True, warmup=True)
    one_pass(1, False, warmup=True)
    start = time.perf_counter()
    passes = 0
    # A traced run interleaves untraced and traced passes (U T T U) so the
    # difference of their medians is the wrappers' cost, not warm-up.
    least = 4 if tracer else PASSES_MIN
    while passes < least or time.perf_counter() - start < seconds:
        if tracer:
            tracer.enabled = passes % 4 in (1, 2)
        one_pass(passes + 2, False)
        passes += 1
    if tracer:
        tracer.enabled = True


def samples(ops: list[dict], clock) -> dict[str, list[float]]:
    """Timed samples per query (build + execution), each through
    ``clock(seconds, cpu_ticks)``."""
    out: dict[str, list[float]] = {}
    for o in ops:
        if not o.get("warmup"):
            out.setdefault(o["kind"], []).append(clock(o["wall_s"], o["ticks"]))
    return out
