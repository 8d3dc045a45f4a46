"""Metric assembly: end-to-end metrics from the timed samples, per-layer
metrics from the traced operations' spans and Spark job metrics.

Every per-layer metric is printed on every workload; a layer the workload
does not exercise reads 0.  Span metrics (``*_ms``) are the mean, over the
traced operations that entered the span, of the time spent in it per
operation; Spark metrics are means over all traced operations.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from harness import latencies, percentile
from spans import nested_ok, self_times

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "ops/s",
    "peak_rss_mb": "MB",
}

# registry queries the workloads run (per-query build/exec/jobs metrics)
REGISTRY = ("b01_buzz_two_step",)

WRITES = tuple(
    f"{verb}_{fmt}" for verb in ("append", "merge", "delete") for fmt in ("delta", "iceberg")
)

# span name -> per-layer metric name
SPAN_METRICS = {
    "models.from_json": "models.from_json_ms",
    "plans.referenced_tables": "plans.referenced_tables_ms",
    "sources.pruned_files": "sources.pruned_files_ms",
    "sources.zonemap_prune": "sources.zonemap_prune_ms",
    "sources.to_dataframe": "sources.to_dataframe_ms",
    "sources.delta_snapshot": "sources.delta_snapshot_ms",
    "sources.iceberg_snapshot": "sources.iceberg_snapshot_ms",
    "engine.run": "engine.run_ms",
    "engine.execute": "engine.execute_ms",
    "queries.build": "queries.build_ms",
    "queries.exec": "queries.exec_ms",
    **{f"sources.{w}": f"sources.{w}_ms" for w in WRITES},
}

SPARK_METRICS = {
    "plan_jobs": ("spark.plan_jobs_per_op", "count"),
    "exec_jobs": ("spark.exec_jobs_per_op", "count"),
    "stages": ("spark.stages_per_op", "count"),
    "tasks": ("spark.tasks_per_op", "count"),
    "job_wall_ms": ("spark.job_wall_ms", "ms"),
    "executor_run_ms": ("spark.executor_run_ms", "ms"),
    "executor_cpu_ms": ("spark.executor_cpu_ms", "ms"),
    "sched_overhead_ms": ("spark.sched_overhead_ms", "ms"),
    "gc_ms": ("spark.gc_ms", "ms"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", "bytes"),
    "spill_bytes": ("spark.spill_bytes", "bytes"),
    "input_bytes": ("spark.input_bytes", "bytes"),
}

# per-layer metrics a workload reports itself (name -> unit)
WORKLOAD_METRICS = {
    "sources.live_files": "count",
    "sources.delete_files": "count",
    "sources.files_added": "count",
    "sources.files_removed": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "space_amp": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"session.get_spark_s": "s"}
    units.update({m: "ms" for m in SPAN_METRICS.values()})
    units.update(
        {
            "plans.referenced_tables_calls": "count",
            "sources.files_listed": "count",
            "sources.files_kept": "count",
            "sources.prune_ratio": "ratio",
            "sources.zonemap_files_kept": "count",
            "engine.run_self_ms": "ms",
            "queries.build_jobs": "count",
            "write_p50_ms": "ms",
            "read_p50_ms": "ms",
        }
    )
    units.update(WORKLOAD_METRICS)
    for name in REGISTRY:
        units[f"queries.{name}.build_ms"] = "ms"
        units[f"queries.{name}.exec_ms"] = "ms"
        units[f"queries.{name}.jobs"] = "count"
    units.update({m: u for m, u in SPARK_METRICS.values()})
    units["trace.overhead_pct"] = "%"
    return units


def _metric(value: float, unit: str, n: int) -> dict:
    return {"value": float(value), "unit": unit, "n": n}


def end_to_end(window, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics over the untraced samples (all samples of an
    untraced run), and the report-only figures: ``op_p90_ms`` (a run has
    too few operations for ten to lie beyond it) and ``failed_ops_share``."""
    samples = [s for s in window.samples if not s.traced]
    lat = latencies(samples)
    ok = sum(1 for s in samples if s.ok)
    n = len(samples)
    wall_s = sum(s.ms for s in samples) / 1000.0
    values = {
        "setup_s": (setup_s, 1),
        "op_p50_ms": (percentile(lat, 50), n),
        "ops_per_s": (ok / wall_s if wall_s else 0.0, n),
        "peak_rss_mb": (peak_mb, 1),
    }
    out = {name: _metric(v, END_TO_END[name], k) for name, (v, k) in values.items()}
    report_only = {
        "op_p90_ms": _metric(percentile(lat, 90), "ms", n),
        "failed_ops_share": _metric((n - ok) / n if n else 0.0, "ratio", n),
    }
    return out, report_only


def _mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def per_layer(window, tracer, own: dict) -> tuple[dict, dict]:
    spans = tracer.spans
    selfs = self_times(spans)
    traced_ops = [i for i, s in enumerate(window.samples) if s.traced]
    op_name = {i: window.samples[i].name for i in traced_ops}

    total: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    self_ms: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    calls: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    residual = 0.0
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    for i, s in enumerate(spans):
        if s["op"] is None:
            continue
        dur = (s["end"] - s["start"]) * 1000.0
        total[s["op"]][s["name"]] += dur
        self_ms[s["op"]][s["name"]] += selfs[i] * 1000.0
        calls[s["op"]][s["name"]] += 1
        if s["name"] == "engine.run":
            # a span's self time plus its descendants' self times is its duration
            todo, acc = list(children[i]), selfs[i]
            while todo:
                c = todo.pop()
                acc += selfs[c]
                todo.extend(children[c])
            residual = max(residual, abs(acc * 1000.0 - dur))

    def span_mean(name: str, table=total, ops=traced_ops) -> tuple[float, int]:
        vals = [table[o][name] for o in ops if name in table[o]]
        return _mean(vals), len(vals)

    units = per_layer_units()
    out: dict[str, dict] = {}
    session = [s for s in spans if s["name"] == "session.get_spark"]
    out["session.get_spark_s"] = _metric(
        session[0]["end"] - session[0]["start"] if session else 0.0, "s", len(session)
    )
    for span_name, metric in SPAN_METRICS.items():
        v, n = span_mean(span_name)
        out[metric] = _metric(v, "ms", n)
    v, n = span_mean("engine.run", self_ms)
    out["engine.run_self_ms"] = _metric(v, "ms", n)
    v, n = span_mean("plans.referenced_tables", calls)
    out["plans.referenced_tables_calls"] = _metric(v, "count", n)

    counters = tracer.counters
    listed = [counters[o]["files_listed"] for o in traced_ops if "files_listed" in counters[o]]
    kept = [counters[o]["files_kept"] for o in traced_ops if "files_listed" in counters[o]]
    zkept = [counters[o]["zonemap_files_kept"] for o in traced_ops if "zonemap_files_kept" in counters[o]]
    out["sources.files_listed"] = _metric(_mean(listed), "count", len(listed))
    out["sources.files_kept"] = _metric(_mean(kept), "count", len(kept))
    out["sources.prune_ratio"] = _metric(sum(kept) / sum(listed) if sum(listed) else 0.0, "ratio", len(listed))
    out["sources.zonemap_files_kept"] = _metric(_mean(zkept), "count", len(zkept))

    spark = window.spark_per_op
    for key, (metric, unit) in SPARK_METRICS.items():
        vals = [spark.get(o, {}).get(key, 0.0) for o in traced_ops]
        out[metric] = _metric(_mean(vals), unit, len(vals))

    build_ops = [o for o in traced_ops if "queries.build" in total[o]]
    out["queries.build_jobs"] = _metric(
        _mean([spark.get(o, {}).get("plan_jobs", 0.0) for o in build_ops]), "count", len(build_ops)
    )
    for name in REGISTRY:
        ops = [o for o in build_ops if op_name[o] == name]
        for span_name, suffix in (("queries.build", "build_ms"), ("queries.exec", "exec_ms")):
            v, n = span_mean(span_name, ops=ops)
            out[f"queries.{name}.{suffix}"] = _metric(v, "ms", n)
        jobs = [spark.get(o, {}).get("plan_jobs", 0.0) + spark.get(o, {}).get("exec_jobs", 0.0) for o in ops]
        out[f"queries.{name}.jobs"] = _metric(_mean(jobs), "count", len(jobs))

    for kind, metric in (("write", "write_p50_ms"), ("read", "read_p50_ms")):
        lat = latencies(window.samples, (kind,))
        out[metric] = _metric(percentile(lat, 50) if lat else 0.0, "ms", len(lat))
    for metric, unit in WORKLOAD_METRICS.items():
        v, n = own.get(metric, (0.0, 0))
        out[metric] = _metric(v, unit, n)

    traced_mean = _mean([s.ms for s in window.samples if s.traced])
    untraced_mean = _mean([s.ms for s in window.samples if not s.traced])
    out["trace.overhead_pct"] = _metric(
        (traced_mean / untraced_mean - 1.0) * 100.0 if untraced_mean else 0.0,
        "%",
        len(traced_ops),
    )
    assert set(out) == set(units), sorted(set(out) ^ set(units))
    checks = {
        "spans": len(spans),
        "nested": nested_ok(spans),
        "engine_run_self_residual_ms": residual,
    }
    return {k: out[k] for k in units}, checks
