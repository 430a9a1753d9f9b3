"""Optimization probe (round 10): solo per-query measurement.

For each named query, in its OWN subprocess (bench.py's noise rules):
warm once, time 3 full-plan executions (median + min), capture the
FINAL adaptive ``explain("formatted")`` to ``plans/r10/<q>_<tag>.txt``,
and attribute wall time to stages via the UI REST API (top stages by
executorRunTime, with shuffle read/write bytes and task counts) plus
the job count — the "measure first" evidence the optimization guide
(§1) asks for before touching any operator.

Usage:
    python scripts/opt_probe.py <tag> <query> [<query> ...]
    python scripts/opt_probe.py <tag> --top N      # N slowest by anchor
Writes plans/r10/<q>_<tag>.txt and prints one JSON line per query.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC = "/root/testdata/sf0.1"
PLANS = REPO / "plans" / "r11"


def _execute(df) -> int:
    # full physical plan, no driver transfer (bench.py convention)
    return df._jdf.queryExecution().toRdd().count()


def _stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages", timeout=30
    ) as r:
        return json.load(r)


def _jobs(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/jobs", timeout=30
    ) as r:
        return json.load(r)


def _sql_executions(spark) -> list[dict]:
    """Every SQL execution the app has run, via the UI REST API —
    including CONSTRUCTION-time jobs (localCheckpoint materializations,
    collects) whose plans never appear in the returned DataFrame's
    explain. This is the round-10 verdict's missing evidence channel
    for join-strategy changes that live in checkpoint jobs."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/sql?length=10000&planDescription=true",
        timeout=60,
    ) as r:
        return json.load(r)


def dump_sql_plans(name: str, tag: str) -> dict:
    """Run one warmed execution of the query and dump the physical plan
    of EVERY SQL execution it issued (construction checkpoints included)
    to plans/r11/<q>_sqldump_<tag>.txt, plus a per-join-strategy count
    summary. Usage: opt_probe.py <tag> --sqldump <query>."""
    from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark

    spark = get_spark("opt-probe", extra_conf={"spark.ui.enabled": "true"})
    fns = query_fns()
    _execute(fns[name](spark, SRC))  # warm
    before = {e["id"] for e in _sql_executions(spark)}
    _execute(fns[name](spark, SRC))
    new = [e for e in _sql_executions(spark) if e["id"] not in before]
    new.sort(key=lambda e: e["id"])
    out, counts = [], {"SortMergeJoin": 0, "ShuffledHashJoin": 0,
                       "BroadcastHashJoin": 0}
    for e in new:
        desc = e.get("planDescription", "")
        # the FINAL adaptive plan only (drop the pre-AQE initial plan)
        final = desc.split("+- == Initial Plan ==", 1)[0]
        for kjoin in counts:
            counts[kjoin] += len(re.findall(rf"(?<![A-Za-z]){kjoin}", final))
        out.append(
            f"===== execution {e['id']} "
            f"[{e.get('description', '')[:100]}] =====\n{desc}\n"
        )
    PLANS.mkdir(parents=True, exist_ok=True)
    (PLANS / f"{name}_sqldump_{tag}.txt").write_text("\n".join(out))
    return {"query": name, "tag": tag, "n_executions": len(new),
            "final_plan_join_counts": counts}


def probe_one(name: str, tag: str) -> dict:
    from dlt_salesforce_iceberg_rest_demo_spark.operators.materialize import scope
    from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark

    spark = get_spark("opt-probe", extra_conf={"spark.ui.enabled": "true"})
    fns = query_fns()
    df = fns[name](spark, SRC)
    _execute(df)  # warm: codegen/JIT/footers

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan_txt = buf.getvalue()
    PLANS.mkdir(parents=True, exist_ok=True)
    (PLANS / f"{name}_{tag}.txt").write_text(plan_txt)
    final_txt = plan_txt.split("Initial Plan", 1)[0]
    n_exchange = len(re.findall(r"(?<![A-Za-z])Exchange", final_txt))
    n_python = len(
        re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas",
                   final_txt)
    )

    before_stages = {(s["stageId"], s["attemptId"]) for s in _stages(spark)}
    before_jobs = {j["jobId"] for j in _jobs(spark)}
    runs = []
    for _ in range(3):
        with scope():  # frees the blocks each result read once it has run
            t0 = time.perf_counter()
            _execute(fns[name](spark, SRC))
            runs.append(time.perf_counter() - t0)
    new_stages = [
        s for s in _stages(spark)
        if (s["stageId"], s["attemptId"]) not in before_stages
    ]
    n_jobs = len([j for j in _jobs(spark) if j["jobId"] not in before_jobs])
    top = sorted(
        new_stages, key=lambda s: -(s.get("executorRunTime") or 0)
    )[:8]
    stage_rows = [
        {
            "run_ms": s.get("executorRunTime", 0) // 3,
            "cpu_ms": s.get("executorCpuTime", 0) // 3_000_000 // 3,
            "tasks": s.get("numCompleteTasks", 0) // 3,
            "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 3 / 1e6, 1),
            "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 3 / 1e6, 1),
            "name": (s.get("name") or "")[:90],
        }
        for s in top
    ]
    return {
        "query": name,
        "median": round(sorted(runs)[1], 3),
        "min": round(min(runs), 3),
        "runs": [round(r, 3) for r in runs],
        "jobs_per_run": n_jobs / 3,
        "stages_per_run": len(new_stages) / 3,
        "exchanges": n_exchange,
        "python_nodes": n_python,
        "sum_stage_run_ms": sum(s.get("executorRunTime", 0) for s in new_stages) // 3,
        "top_stages": stage_rows,
    }


def main() -> None:
    tag = sys.argv[1]
    if sys.argv[2] == "--self":
        print("PROBE " + json.dumps(probe_one(sys.argv[3], tag)))
        return
    if sys.argv[2] == "--sqldump-self":
        print("DUMP " + json.dumps(dump_sql_plans(sys.argv[3], tag)))
        return
    if sys.argv[2] == "--sqldump":
        for name in sys.argv[3:]:
            proc = subprocess.run(
                [sys.executable, __file__, tag, "--sqldump-self", name],
                capture_output=True, text=True,
            )
            line = next((ln for ln in proc.stdout.splitlines()
                         if ln.startswith("DUMP ")), None)
            print(line[5:] if line else f"{name}: FAILED\n{proc.stderr[-800:]}",
                  flush=True)
        return
    if sys.argv[2] == "--top":
        anchor = json.loads((REPO / "BENCH_ANCHOR.json").read_text())
        names = [
            k for k, _ in sorted(
                anchor["floors"].items(), key=lambda kv: -kv[1]
            )[: int(sys.argv[3])]
        ]
    else:
        names = sys.argv[2:]
    for name in names:
        proc = subprocess.run(
            [sys.executable, __file__, tag, "--self", name],
            capture_output=True, text=True,
        )
        line = next(
            (ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")),
            None,
        )
        if line is None:
            print(f"{name}: FAILED\n{proc.stderr[-800:]}", flush=True)
            continue
        entry = json.loads(line[len("PROBE "):])
        print(json.dumps(entry), flush=True)


if __name__ == "__main__":
    main()
