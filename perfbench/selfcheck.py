"""The benchmark's own tests.

    python3 perfbench/selfcheck.py              # corrupted expectations fail
    python3 perfbench/selfcheck.py --repeat     # counts repeat across traced runs

The first mode runs in one process on a small org and one query: each
output check must pass on the true expectation and report a failure
when the expectation is corrupted (a table's hash, the stored cursor, a
query's content hash, a query's row count).

``--repeat`` makes two traced runs of each workload with the same seed
and lists every count metric that does not repeat exactly; such counts
are unusable for count-based claims.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

COUNTS = (
    "spark.jobs", "spark.stages", "spark.tasks", "pipeline.jobs_per_tick", "pipeline.jobs_initial",
    "check_tables.jobs", "sources.records_fetched", "sources.records_fetched_initial",
    "sources.soql_queries", "sinks.bytes_written_per_row", "sinks.lake_bytes_per_live_row",
    "sinks.data_files", "operators.leaked_rdds",
)


def corrupted_expectations() -> list[str]:
    from run import pin_environment, shutdown, spark_conf

    work = ROOT / ".perfbench" / "work" / f"selfcheck-{os.getpid()}"
    pin_environment(work)
    import elt
    import queries
    from standin import Org

    from dlt_salesforce_iceberg_rest_demo_spark.session import ensure_package_on_workers, get_spark

    spark = get_spark("perfbench-selfcheck", extra_conf=spark_conf(work))
    ensure_package_on_workers(spark)
    errors = []

    def expect(label: str, problems: list[str], fail: bool) -> None:
        if bool(problems) != fail:
            errors.append(f"{label}: expected {'a failure' if fail else 'no failure'}, got {problems}")

    try:
        sync = elt.Sync(spark, Org(3, 20), None)
        expect("elt first load", sync.load("load")["problems"], False)
        expect("elt tick", sync.load("tick")["problems"], False)
        org = sync.org
        rec = next(iter(org.records["Contact"].values()))
        saved = rec["SystemModstamp"]
        rec["SystemModstamp"] += 1
        expect("elt corrupted table hash", elt.check_output(sync.lake, sync.state, org), True)
        rec["SystemModstamp"] = saved
        cursor = sync.state.get("account")
        sync.state.reset("account")
        sync.state.advance("account", "2000-01-01T00:00:00.000000Z")
        expect("elt corrupted cursor", elt.check_output(sync.lake, sync.state, org), True)
        sync.state.reset("account")
        sync.state.advance("account", cursor)
        expect("elt restored", elt.check_output(sync.lake, sync.state, org), False)

        name = "window_topk_orders_per_customer"
        for label, field, fail in (("query true", None, False), ("query corrupted hash", "hash", True),
                                   ("query corrupted rows", "rows", True)):
            prepared = queries.prepare(0)
            prepared["names"] = [name]
            if field == "hash":
                prepared["expected"][name]["hash"] = "0" * 64
            elif field == "rows":
                prepared["expected"][name]["rows"] += 1
            ops: list[dict] = []
            queries.run(spark, prepared, 0, None, ops.append)
            expect(label, [p for o in ops for p in o["problems"]], fail)
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    return errors


def repeat_counts() -> list[str]:
    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    unusable = []
    for w in manifest["workloads"]:
        runs = []
        for _ in range(2):
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w["name"], "--seed", "1",
                 "--seconds", str(manifest["run_seconds"]), "--trace", "1"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            runs.append(json.loads(out.stdout.strip().splitlines()[-1])["metrics"])
        for name in COUNTS:
            a, b = runs[0][name]["value"], runs[1][name]["value"]
            status = "repeats" if a == b else "DIFFERS"
            print(f"{w['name']:10s} {name:34s} {a!r:>22} {b!r:>22} {status}")
            if a != b:
                unusable.append(f"{w['name']}: {name}")
    return unusable


def main() -> int:
    if "--repeat" in sys.argv[1:]:
        unusable = repeat_counts()
        print("counts that do not repeat:", unusable or "none")
        return 0
    errors = corrupted_expectations()
    for e in errors:
        print(e, file=sys.stderr)
    print("selfcheck", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
