"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload elt_sync --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``). A result file
with the run's conditions, every operation and every timing summary goes
to ``.perfbench/results/``; a traced run writes its spans next to it.

Everything the run writes (lakes, Spark scratch space, temp files) stays
under ``.perfbench/`` in the checkout and is removed at the end, except
the result files.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import host  # noqa: E402
import spans  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "dlt_salesforce_iceberg_rest_demo_spark"
# workload -> module with prepare(seed), run(...) and samples(ops, clock).
WORKLOADS = {"elt_sync": "elt", "query_mix": "queries"}
SETUPS = 5
# Pinned so every run has the same heap whatever the machine: the
# session's own default (48g) does not fit a 15 GB machine.
DRIVER_MEMORY = "2g"


def pin_environment(work: Path) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # spark-submit's launcher JVM: no perf data file, temp files here.
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": str(tmp),
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = str(tmp)
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "python": platform.python_version(),
    }


def spark_conf(work: Path) -> dict[str, str]:
    return {
        # stdout carries only the result line.
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files and perf data stay inside the checkout.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def tree_fingerprint() -> dict:
    """The commit when the checkout has git metadata, and always a hash
    of the package sources (an exported checkout has no .git)."""
    head = ROOT / ".git" / "HEAD"
    commit = "unknown"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            target = ROOT / ".git" / ref[5:]
            commit = target.read_text().strip() if target.exists() else ref
        else:
            commit = ref
    digest = hashlib.sha256()
    for py in sorted((ROOT / PACKAGE).rglob("*.py")):
        digest.update(str(py.relative_to(ROOT)).encode() + b"\0" + py.read_bytes())
    return {"commit": commit, "package_sha256": digest.hexdigest()}


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total += int(line.split()[1])
    return total / 1024


def summary(samples: list[float]) -> dict:
    """Median, plus the highest percentile with at least 10 samples
    beyond it, and the sample count."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    for q in (99, 95, 90, 75):
        if len(samples) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(samples, n=100, method="inclusive")[q - 1]
            break
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Session:
    """Set-up: session, package shipped to workers, workload inputs ready."""

    def __init__(self, args, work: Path) -> None:
        from dlt_salesforce_iceberg_rest_demo_spark import session as session_mod

        self.args, self.work, self.session_mod = args, work, session_mod
        self.workload = importlib.import_module(WORKLOADS[args.workload])
        self.tracer = None
        if args.trace:
            self.tracer = spans.Tracer()
            self.tracer.wrap(session_mod, "get_spark", "session.get_spark")
            self.tracer.wrap(session_mod, "ensure_package_on_workers", "session.ship_package")
            self.tracer.trace_id = "setup"
        self.spark = None
        self.prepared = None

    def setup(self) -> None:
        self.spark = self.session_mod.get_spark("perfbench", extra_conf=spark_conf(self.work))
        self.session_mod.ensure_package_on_workers(self.spark)
        if self.tracer:
            self.tracer.bind(self.spark)
        self.prepared = self.workload.prepare(self.args.seed)

    def restart(self) -> tuple[float, list[int]]:
        """Tear the session down and set it up again on the running JVM;
        return the set-up's wall time and CPU ticks."""
        if self.tracer:
            self.tracer.bind(None)
        self.spark.stop()
        ticks = host.cpu_ticks()
        start = time.perf_counter()
        self.setup()
        return time.perf_counter() - start, host.delta(ticks, host.cpu_ticks())

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        shutdown(self.spark)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def wall(seconds: float, ticks: list[int]) -> float:
    return seconds


def end_to_end(workload, ops: list[dict], setups: list[tuple[float, list[int]]], clock=host.unstolen) -> dict[str, float]:
    """The end-to-end metrics. By default every time is the operation's
    wall time less the share of CPU time the host stole during it;
    ``clock=wall`` gives plain wall times."""
    parts = [statistics.median(v) for v in workload.samples(ops, clock).values()]
    return {
        "setup_s": statistics.median(clock(*s) for s in setups),
        "total_s": sum(parts),
        "geomean_s": geomean(parts),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = manifest["per_layer" if args.trace else "end_to_end"]
    if not (ROOT / PACKAGE / "__init__.py").exists():
        print(f"no {PACKAGE} package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench"
    work = run_dir / "work" / f"{args.workload}-{os.getpid()}"
    results = run_dir / "results"
    results.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    conditions = pin_environment(work)
    ticks0 = host.cpu_ticks()

    ops: list[dict] = []
    setups: list[tuple[float, list[int]]] = []
    raw: dict[str, float] = {}
    error = None
    session = Session(args, work)
    metrics: dict[str, float] = {}
    try:
        session.setup()
        setups.append((time.perf_counter() - T_START, host.delta(ticks0, host.cpu_ticks())))
        conditions["spark"] = session.spark.version
        session.workload.run(session.spark, session.prepared, args.seconds, session.tracer, ops.append)
        rss = peak_rss_mb([os.getpid(), session.jvm_pid()])
        if session.tracer:
            import layers

            metrics = layers.per_layer(args.workload, session.tracer, ops, conditions["nproc"])
            metrics.update({"session.cold_setup_s": setups[0][0], "mem.peak_rss_mb": rss})
        for _ in range(SETUPS - 1):
            setups.append(session.restart())
        raw = end_to_end(session.workload, ops, setups, wall)
        if not args.trace:
            metrics = end_to_end(session.workload, ops, setups)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        session.close()

    conditions["cpu_steal_share"] = host.steal_share(host.delta(ticks0, host.cpu_ticks()))
    conditions["loadavg_end"] = os.getloadavg()
    failed = sum(1 for o in ops if o["problems"]) + (error is not None)
    for o in ops:
        for p in o["problems"]:
            print(f"check failed: {p}", file=sys.stderr)
    attempted = len(ops) + (error is not None)
    units = {m["name"]: m["unit"] for m in declared}
    undeclared = sorted(set(metrics) - set(units))
    if undeclared:
        print(f"metrics missing from BENCHMARK.json: {undeclared}", file=sys.stderr)
    result = {
        "correct": failed == 0 and error is None,
        "attempted": max(1, attempted),
        "failed": failed,
        # A per-layer metric the workload does not exercise reads 0.
        "metrics": {} if error else {
            name: {"value": metrics.get(name, 0), "unit": unit} for name, unit in units.items()
        },
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "conditions": {**conditions, **tree_fingerprint()},
        "setup_samples_s": [s for s, _ in setups], "wall_end_to_end": raw,
        "timings": {k: summary(v) for k, v in session.workload.samples(ops, wall).items()} if ops else {},
        "result": result, "error": error, "ops": ops,
    }
    (results / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if session.tracer:
        session.tracer.dump(results / f"{stem}.spans.json")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))
    return 1 if error else 0


if __name__ == "__main__":
    sys.exit(main())
