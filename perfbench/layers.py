"""Per-layer metrics of a traced run, computed from its spans.

Times are medians over the traced operations. Counts come from one fixed
operation (the first timed tick, or the first timed pass of a query mix),
so two traced runs with the same seed report the same counts.
"""

from __future__ import annotations

import statistics

ELT_WRITE_DISPOSITIONS = ("merge", "replace", "append")


def _median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(workload: str, tracer, ops: list[dict], cores: int) -> dict[str, float]:
    out: dict[str, float] = {}
    setup = [s for s in tracer.spans if s["trace"] == "setup"]
    out["session.get_spark_s"] = next(s["end"] - s["start"] for s in setup if s["name"] == "session.get_spark")
    out["session.ship_package_s"] = next(
        s["end"] - s["start"] for s in setup if s["name"] == "session.ship_package")
    if workload == "elt_sync":
        out.update(_elt(tracer, [o for o in ops if not o.get("warmup")], cores))
    else:
        out.update(_queries(tracer, ops, cores))
    roots = [s for s in tracer.spans if s["parent"] is None and s["trace"] not in (None, "setup")]
    out["trace.spans"] = len(tracer.spans)
    out["trace.self_sum_gap_s"] = max(
        abs(sum(tracer.self_time(s) for s in tracer.subtree(r)) - (r["end"] - r["start"]))
        for r in roots
    )
    return out


def _roots(tracer, name: str) -> dict[str, dict]:
    return {s["trace"]: s for s in tracer.spans if s["parent"] is None and s["name"] == name}


def _elt(tracer, timed: list[dict], cores: int) -> dict[str, float]:
    loads = {**_roots(tracer, "elt.load"), **_roots(tracer, "elt.tick")}
    verifies = _roots(tracer, "elt.verify")
    initial = next(o for o in timed if o["kind"] == "load")
    ticks = [o for o in timed if o["kind"] == "tick"]
    traced = [o for o in ticks if o["traced"]]
    untraced = [o for o in ticks if not o["traced"]]
    first = traced[0]
    t_first, t_initial = loads[first["trace"]], loads[initial["trace"]]
    tick_roots = [loads[o["trace"]] for o in traced]
    verify_roots = [verifies[o["trace"]] for o in traced]

    def per_tick(name, **match):
        return _median(tracer.time_in(r, name, **match) for r in tick_roots)

    out = {
        "elt.initial_rows_per_s": initial["rows"] / initial["load_s"],
        "elt.tick_p50_s": _median(o["load_s"] for o in traced),
        "elt.verify_p50_s": _median(o["verify_s"] for o in traced),
        "sources.read_object_initial_s": tracer.time_in(t_initial, "sources.read_object"),
        "sources.read_object_s": per_tick("sources.read_object"),
        "sources.transport_wait_s": _median(
            tracer.time_in(r, "standin.describe") + tracer.time_in(r, "standin.page")
            for r in tick_roots),
        "sources.records_fetched_initial": initial["records_fetched"],
        "sources.records_fetched": first["records_fetched"],
        "sources.soql_queries": first["soql_queries"],
        "sources.rows_written_per_fetched": first["rows"] / first["records_fetched"],
        "sinks.write_initial_s": tracer.time_in(t_initial, "sinks.write"),
        "sinks.bytes_written_per_row": first["bytes_written"] / first["rows"],
        "sinks.lake_bytes_per_live_row": first["lake_bytes"] / first["live_rows"],
        "sinks.data_files": first["data_files"],
        "sinks.read_s": _median(
            tracer.time_in(r, "sinks.read") + tracer.time_in(r, "sinks.count") for r in verify_roots),
        "state.get_s": per_tick("state.get"),
        "state.advance_s": per_tick("state.advance"),
        "state.cursor_ok": sum(not o["problems"] for o in timed) / len(timed),
        "pipeline.self_s": _median(
            tracer.time_in(r, "pipeline.run") - sum(
                tracer.time_in(r, n) for n in
                ("sources.read_object", "sinks.write", "state.get", "state.advance"))
            for r in tick_roots),
        "check_tables_s": _median(tracer.time_in(r, "check_tables") for r in verify_roots),
        "trace.overhead_total_s": _median(o["load_s"] + o["verify_s"] for o in traced)
        - _median(o["load_s"] + o["verify_s"] for o in untraced),
    }
    for disposition in ELT_WRITE_DISPOSITIONS:
        out[f"sinks.{disposition}_s"] = per_tick("sinks.write", disposition=disposition)
    counters = tracer.spark_counters([t_first], cores)
    out.update(counters)
    out["pipeline.jobs_per_tick"] = counters["spark.jobs"]
    out["pipeline.jobs_per_object"] = counters["spark.jobs"] / len(tracer.named(t_first, "sources.read_object"))
    out["pipeline.jobs_initial"] = tracer.spark_counters([t_initial], cores)["spark.jobs"]
    out["check_tables.jobs"] = tracer.spark_counters([verifies[first["trace"]]], cores)["spark.jobs"]
    return out


def _queries(tracer, ops: list[dict], cores: int) -> dict[str, float]:
    roots = _roots(tracer, "query")
    timed = [o for o in ops if not o.get("warmup")]
    traced = [o for o in timed if o["traced"]]
    untraced = [o for o in timed if not o["traced"]]
    names = sorted({o["kind"] for o in timed})
    first_pass = min(o["pass"] for o in traced)
    first = {o["kind"]: roots[o["trace"]] for o in traced if o["pass"] == first_pass}

    def total(sample, key="wall_s"):
        return sum(_median(o[key] for o in sample if o["kind"] == n) for n in names)

    out = {
        "plans.build_s": total(traced, "build_s"),
        "plans.exec_s": total(traced, "exec_s"),
        "trace.overhead_total_s": total(traced) - total(untraced),
    }
    for n in names:
        out[f"q.{n}.wall_s"] = _median(o["wall_s"] for o in traced if o["kind"] == n)
        out[f"q.{n}.jobs"] = tracer.spark_counters([first[n]], cores)["spark.jobs"]
    # What is still persisted after the pass: nothing unpersists between
    # queries, so these are the blocks the operators left behind.
    last = [o for o in ops if o["pass"] == first_pass][-1]
    out["operators.leaked_rdds"] = last["leaked_rdds"]
    out["operators.cached_mb"] = last["cached_mb"]
    out.update(tracer.spark_counters(list(first.values()), cores))
    return out
