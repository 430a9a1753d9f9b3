"""Spans around the package's public functions, with Spark counters per span.

A traced run installs wrappers (``Tracer.wrap``) around the calls the
benchmark wants broken down. Each wrapper opens a span: name, start, end,
parent, the trace id of the load, tick or query it belongs to, and
attributes. While a span is open its id is the Spark job group, so every
job Spark runs is charged to exactly one (the innermost) span.
``Tracer.harvest`` reads those jobs and their stages from Spark's status
store, which works with the UI disabled, and attaches them to the spans.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from typing import Any

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._children: dict[int | None, list[dict[str, Any]]] = {}
        self.trace_id: str | None = None
        self.enabled = True
        self.sc = None

    def bind(self, spark) -> None:
        """Point the tracer at a (new) session's SparkContext."""
        self.sc = spark.sparkContext if spark is not None else None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "attrs": attrs,
            "jobs": [],
        }
        self.spans.append(sp)
        self._children.setdefault(sp["parent"], []).append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: dict[str, Any] | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp['id']}", sp["name"])

    # -- wrappers ------------------------------------------------------------

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        attrs: Callable[..., dict[str, Any]] | None = None,
        *,
        generator: bool = False,
    ) -> None:
        """Replace ``owner.attr`` (a module function or a method) with a
        spanned version for the rest of the process. ``attrs`` maps the
        call's arguments to span attributes. With ``generator=True`` the
        call returns an iterator and each ``next`` is its own span, so the
        time spent waiting on the producer is not charged to the caller."""
        fn = getattr(owner, attr)
        tracer = self

        if generator:
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                extra = attrs(*args, **kwargs) if attrs else {}
                it = iter(fn(*args, **kwargs))
                while True:
                    with tracer.span(name, **extra) as sp:
                        try:
                            item = next(it)
                        except StopIteration:
                            sp["attrs"] = {**extra, "exhausted": True}
                            return
                        sp["attrs"] = {**extra, "records": len(item)}
                    yield item
        else:
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                extra = attrs(*args, **kwargs) if attrs else {}
                with tracer.span(name, **extra):
                    return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # -- Spark counters --------------------------------------------------------

    def harvest(self) -> None:
        """Attach to each span the Spark jobs run under its group (with the
        stage counters of those jobs). Call after every load, tick or query:
        the status store only keeps the most recent jobs and stages."""
        if self.sc is None:
            return
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(jvm.java.util.ArrayList())))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )))
        by_stage: dict[int, list[dict[str, Any]]] = {}
        for st in stages:
            by_stage.setdefault(st["stageId"], []).append(st)
        seen = {j["id"] for sp in self.spans for j in sp["jobs"]}
        for job in jobs:
            group = job.get("jobGroup") or ""
            if not group.startswith(GROUP_PREFIX) or job["jobId"] in seen:
                continue
            if job.get("completionTime") is None:
                continue
            sp = self.spans[int(group[len(GROUP_PREFIX):])]
            ran = [
                a for sid in job["stageIds"] for a in by_stage.get(sid, [])
                if a["status"] not in ("SKIPPED", "PENDING")
            ]
            sp["jobs"].append({
                "id": job["jobId"],
                "submitted_ms": job["submissionTime"],
                "completed_ms": job["completionTime"],
                "stages": len(ran),
                "tasks": sum(a["numTasks"] for a in ran),
                "executor_run_ms": sum(a["executorRunTime"] for a in ran),
                "executor_cpu_ns": sum(a["executorCpuTime"] for a in ran),
                "shuffle_read_bytes": sum(a["shuffleReadBytes"] for a in ran),
                "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in ran),
                "spill_bytes": sum(a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in ran),
                "peak_exec_mem_bytes": max((a["peakExecutionMemory"] for a in ran), default=0),
                "failed": job["status"] != "SUCCEEDED",
            })

    # -- queries over the recorded spans ---------------------------------------

    def children(self, sp: dict[str, Any]) -> list[dict[str, Any]]:
        return self._children.get(sp["id"], [])

    def subtree(self, sp: dict[str, Any]) -> list[dict[str, Any]]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: dict[str, Any]) -> float:
        """Duration minus the part covered by child spans."""
        covered = _union([(c["start"], c["end"]) for c in self.children(sp)])
        return (sp["end"] - sp["start"]) - covered

    def named(self, root: dict[str, Any], name: str) -> list[dict[str, Any]]:
        return [s for s in self.subtree(root) if s["name"] == name]

    def time_in(self, root: dict[str, Any], name: str, **match: Any) -> float:
        return sum(
            s["end"] - s["start"] for s in self.named(root, name)
            if all(s["attrs"].get(k) == v for k, v in match.items())
        )

    def spark_counters(self, roots: list[dict[str, Any]], cores: int) -> dict[str, float]:
        """Spark counters of the jobs under ``roots``. The driver gap is
        the part of the roots' wall time that no job covers."""
        jobs = [j for r in roots for s in self.subtree(r) for j in s["jobs"]]
        wall = sum(r["end"] - r["start"] for r in roots)
        run_s = sum(j["executor_run_ms"] for j in jobs) / 1000
        busy = _union([(j["submitted_ms"] / 1000, j["completed_ms"] / 1000) for j in jobs])
        return {
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(j["executor_cpu_ns"] for j in jobs) / 1e9,
            "spark.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
            "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "spark.peak_exec_mem_bytes": max((j["peak_exec_mem_bytes"] for j in jobs), default=0),
            "spark.driver_gap_s": max(0.0, wall - busy),
            "spark.core_util": run_s / (wall * cores) if wall > 0 else 0.0,
        }

    def dump(self, path) -> None:
        path.write_text(json.dumps(self.spans, default=str))


def maybe_span(tracer: Tracer | None, name: str, **attrs: Any):
    """A span when a tracer is given, else nothing."""
    return tracer.span(name, **attrs) if tracer else nullcontext()


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
