"""Spans around the library's public entry points, plus Spark job metrics
per operation, for the traced run (``--trace 1``).

Wrappers are installed on the classes and modules the benchmark drives
(``BuzzEngine.run``/``execute``, ``referenced_tables``, the catalogs'
``pruned_files``/``to_dataframe``, the zone-map prune, ``BuzzQuery.from_json``)
for the traced process only; the library itself is unchanged.  While the
tracer is disabled a wrapper costs one attribute check.

Each span records a name, start, end, parent span and operation id.  Spark
jobs are attributed with ``sc.setJobGroup``: ``op<N>:plan`` while the engine
plans or a registry query builds, ``op<N>:exec`` otherwise.  Job and stage
metrics come from Spark's in-process status store, which is populated with
the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._sc = None

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled and self.op_id is not None:
            self.counters[self.op_id][key] += value

    # -- job groups ----------------------------------------------------------

    @contextlib.contextmanager
    def phase(self, phase: str):
        """Attribute the Spark jobs launched inside to ``phase`` of the
        current operation, restoring the enclosing group afterwards."""
        if not self.enabled or self._sc is None or self.op_id is None:
            yield
            return
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(f"op{self.op_id}:{phase}", phase)
        try:
            yield
        finally:
            if prev is not None:
                self._sc.setJobGroup(prev, prev.rsplit(":", 1)[-1])

    @contextlib.contextmanager
    def operation(self, op_id: int, sc):
        """One benchmark operation: its spans carry ``op_id`` and its jobs
        default to the ``exec`` group."""
        self.op_id = op_id
        self._sc = sc
        try:
            with self.phase("exec"):
                yield
        finally:
            self.op_id = None

    def spark_metrics(self, sc, op_id: int, slots: int) -> dict[str, float]:
        """Job and stage totals of one finished operation, read from the
        status store after the listener bus has drained."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out: dict[str, float] = defaultdict(float)
        stages: set[int] = set()
        for phase in ("plan", "exec"):
            for jid in tracker.getJobIdsForGroup(f"op{op_id}:{phase}"):
                out[f"{phase}_jobs"] += 1
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["job_wall_ms"] += done.get().getTime() - sub.get().getTime()
                ids = job.stageIds()
                stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never attempted (skipped by stage reuse)
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
        out["sched_overhead_ms"] = out["job_wall_ms"] - out["executor_run_ms"] / slots
        return dict(out)


TRACER = Tracer()


def _wrap(fn, name: str, phase: str | None = None, on_result=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not TRACER.enabled:
            return fn(*args, **kwargs)
        with TRACER.span(name):
            if phase is None:
                result = fn(*args, **kwargs)
            else:
                with TRACER.phase(phase):
                    result = fn(*args, **kwargs)
        if on_result is not None:
            on_result(args, result)
        return result

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


def _patch(owner, attr: str, name: str, phase: str | None = None, on_result=None):
    raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
    if isinstance(raw, classmethod):
        setattr(owner, attr, classmethod(_wrap(raw.__func__, name, phase, on_result)))
    elif not hasattr(raw, "__perfbench_wrapped__"):
        setattr(owner, attr, _wrap(raw, name, phase, on_result))


def _count_pruned(args, files) -> None:
    catalog = args[0]
    TRACER.count("files_listed", len(catalog.files))
    TRACER.count("files_kept", len(files))


def _count_zonemap(args, catalog) -> None:
    TRACER.count("zonemap_files_in", len(args[0].files))
    TRACER.count("zonemap_files_kept", len(catalog.files))


def install() -> None:
    """Install the span wrappers (idempotent)."""
    from buzz_rust_spark import engine, models
    from buzz_rust_spark.sources import (
        DeltaCatalog,
        IcebergCatalog,
        ParquetDirCatalog,
        StaticCatalog,
        zonemap,
    )

    _patch(engine.BuzzEngine, "run", "engine.run", phase="plan")
    _patch(engine.BuzzEngine, "execute", "engine.execute", phase="exec")
    _patch(engine, "referenced_tables", "plans.referenced_tables")
    _patch(models.BuzzQuery, "from_json", "models.from_json")
    _patch(StaticCatalog, "pruned_files", "sources.pruned_files", on_result=_count_pruned)
    _patch(StaticCatalog, "to_dataframe", "sources.to_dataframe")
    _patch(ParquetDirCatalog, "to_dataframe", "sources.to_dataframe")
    _patch(DeltaCatalog, "to_dataframe", "sources.delta_snapshot")
    _patch(IcebergCatalog, "to_dataframe", "sources.iceberg_snapshot")
    _patch(
        zonemap,
        "prune_catalog_by_stats",
        "sources.zonemap_prune",
        on_result=_count_zonemap,
    )


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def nested_ok(spans: list[dict]) -> bool:
    """Every span ends after it starts and lies inside its parent."""
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            return False
        p = s["parent"]
        if p is not None:
            parent = spans[p]
            if s["start"] < parent["start"] or s["end"] > parent["end"]:
                return False
            if s["op"] != parent["op"]:
                return False
    return True
