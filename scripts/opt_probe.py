"""Optimization probe: solo per-query measurement.

For each named query, in its OWN subprocess (bench.py's noise rules):
warm once, time 3 full-plan executions (median + min), capture the
FINAL adaptive ``explain("formatted")`` to ``plans/r11/<q>_<tag>.txt``,
and attribute wall time to stages from Spark's in-process status store
(top stages by executorRunTime, with shuffle read/write bytes and task
counts) plus the job count — the "measure first" evidence the
optimization guide (§1) asks for before touching any operator. Runs
with the Spark UI off (``scripts/measure.py``).

Usage:
    python scripts/opt_probe.py <tag> <query> [<query> ...]
    python scripts/opt_probe.py <tag> --top N      # N slowest by anchor
    python scripts/opt_probe.py <tag> --sqldump <query> [<query> ...]
Writes plans/r11/<q>_<tag>.txt (or <q>_sqldump_<tag>.txt) and prints
one JSON line per query.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import sys
from functools import partial
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scripts import measure  # noqa: E402

SRC = "/root/testdata/sf0.1"
PLANS = REPO / "plans" / "r11"


def dump_sql_plans(name: str, tag: str) -> dict:
    """Run one warmed execution of the query and dump the physical plan
    of EVERY SQL execution it issued (construction checkpoints included)
    to plans/r11/<q>_sqldump_<tag>.txt, plus a per-join-strategy count
    summary. Usage: opt_probe.py <tag> --sqldump <query>."""
    from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark

    spark = get_spark("opt-probe")
    fns = query_fns()
    make = partial(fns[name], spark, SRC)
    measure.execute(make())  # warm
    new = measure.sql_plans(spark, make)
    out, counts = [], {"SortMergeJoin": 0, "ShuffledHashJoin": 0,
                       "BroadcastHashJoin": 0}
    for e in new:
        desc = e["planDescription"]
        # the FINAL adaptive plan only (drop the pre-AQE initial plan)
        final = desc.split("+- == Initial Plan ==", 1)[0]
        for kjoin in counts:
            counts[kjoin] += len(re.findall(rf"(?<![A-Za-z]){kjoin}", final))
        out.append(
            f"===== execution {e['id']} "
            f"[{e['description'][:100]}] =====\n{desc}\n"
        )
    PLANS.mkdir(parents=True, exist_ok=True)
    (PLANS / f"{name}_sqldump_{tag}.txt").write_text("\n".join(out))
    return {"query": name, "tag": tag, "n_executions": len(new),
            "final_plan_join_counts": counts}


def probe_one(name: str, tag: str) -> dict:
    from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
    from dlt_salesforce_iceberg_rest_demo_spark.session import get_spark

    spark = get_spark("opt-probe")
    fns = query_fns()
    df = fns[name](spark, SRC)
    measure.execute(df)  # warm: codegen/JIT/footers

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

    snap = measure.Snapshot(spark)
    runs, _ = measure.timed(partial(fns[name], spark, SRC), 3)
    new_stages = snap.stages()
    n_jobs = len(snap.jobs())
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
        "top_stages": top_stages(new_stages),
    }


def top_stages(stages: list[dict], n: int = 8) -> list[dict]:
    """The ``n`` stages with the most executor time, one row each. Every
    timed run submits its own stages, so a row is one stage of one run
    and is reported as measured (not divided by the run count)."""
    top = sorted(stages, key=lambda s: -(s.get("executorRunTime") or 0))[:n]
    return [
        {
            "run_ms": s.get("executorRunTime", 0),
            "cpu_ms": s.get("executorCpuTime", 0) // 1_000_000,
            "tasks": s.get("numCompleteTasks", 0),
            "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "name": (s.get("name") or "")[:90],
        }
        for s in top
    ]


# child flag -> (measurement, stdout tag); the parent runs each query
# through one child process
CHILD = {
    "--self": (probe_one, "PROBE"),
    "--sqldump-self": (dump_sql_plans, "DUMP"),
}


def main() -> None:
    tag = sys.argv[1]
    if sys.argv[2] in CHILD:
        fn, out_tag = CHILD[sys.argv[2]]
        print(f"{out_tag} " + json.dumps(fn(sys.argv[3], tag)))
        return
    child = "--self"
    if sys.argv[2] == "--sqldump":
        child, names = "--sqldump-self", sys.argv[3:]
    elif sys.argv[2] == "--top":
        anchor = json.loads((REPO / "BENCH_ANCHOR.json").read_text())
        names = [
            k for k, _ in sorted(
                anchor["floors"].items(), key=lambda kv: -kv[1]
            )[: int(sys.argv[3])]
        ]
    else:
        names = sys.argv[2:]
    for name in names:
        try:
            entry = measure.isolated([__file__, tag, child, name], CHILD[child][1])
        except RuntimeError as e:
            print(f"{name}: FAILED\n{e}", flush=True)
            continue
        print(json.dumps(entry), flush=True)


if __name__ == "__main__":
    main()
