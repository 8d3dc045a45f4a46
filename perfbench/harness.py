"""Process set-up shared by the workloads: pinned Spark session, work
directory, memory probe and the closed-loop measurement window."""

from __future__ import annotations

import math
import os
import platform
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from spans import TRACER

# Peak-sum probe of the driver process tree (this Python process, the
# driver JVM it launched and the JVM's Python workers).  The JVM forks its
# Python worker daemon from an executor thread, and /proc/<pid>/task/<tid>/
# children lists only the children of one thread, so the tree is built from
# every process's parent pid instead.


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def peak_rss() -> tuple[float, list[tuple[str, float]]]:
    """Sum of the peak resident sets (VmHWM) of this process and all its
    descendants, the driver JVM plus every Python process, in MB; and each
    process's command name and peak."""
    procs = [(p, _status_kb(p, "VmHWM") / 1024.0) for p in process_tree(os.getpid())]
    return sum(mb for _, mb in procs), [(_comm(p), round(mb, 1)) for p, mb in procs]


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: the share of time the
    hypervisor gave this host's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(work: str) -> dict[str, Any]:
    """Pin the session to this host and keep every scratch file inside
    ``work``; returns the settings for the report."""
    cpus = host_cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # 1 GiB holds every input many times over, keeps the resident set from
    # tracking when the collector happens to run, and fits small hosts (the
    # library default of 16g does not)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"cpus": cpus, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def start_spark(work: str):
    from buzz_rust_spark.session import get_spark

    with TRACER.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                    f"-Dderby.system.home={os.path.join(work, 'derby')}"
                ),
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def session_info(spark, seed: int, pinned: dict[str, Any]) -> dict[str, Any]:
    import pyarrow
    import pyspark

    return {
        **pinned,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "seed": seed,
    }


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- measurement ---------------------------------------------------------------


@dataclass
class Op:
    """One operation of a workload.  ``run`` is timed; ``check`` (untimed)
    returns True when the result is correct."""

    name: str
    kind: str  # "query" | "read" | "write"
    run: Callable[[], Any]
    check: Callable[[Any], bool] = lambda _: True


@dataclass
class Sample:
    name: str
    kind: str
    ms: float
    ok: bool
    traced: bool
    error: str | None = None


@dataclass
class Window:
    """Closed-loop measurement: one client runs whole rounds of operations
    back to back.  The clock runs only while operations run; result checks
    and trace bookkeeping happen with the clock stopped."""

    spark: Any
    slots: int
    samples: list[Sample] = field(default_factory=list)
    spark_per_op: dict[int, dict[str, float]] = field(default_factory=dict)
    timed_s: float = 0.0

    def run_round(self, ops: list[Op], traced: bool) -> None:
        sc = self.spark.sparkContext
        TRACER.enabled = traced
        for op in ops:
            op_id = len(self.samples)
            error = None
            with TRACER.operation(op_id, sc):
                with TRACER.span(f"op.{op.kind}"):
                    t0 = time.perf_counter()
                    try:
                        result = op.run()
                    except Exception as exc:  # counted as a failed operation
                        result, error = None, f"{type(exc).__name__}: {exc}"[:400]
                    elapsed = time.perf_counter() - t0
            TRACER.enabled = False
            ok = error is None
            if ok:
                try:
                    ok = bool(op.check(result))
                    if not ok:
                        error = "wrong result"
                except Exception as exc:
                    ok, error = False, f"check raised {type(exc).__name__}: {exc}"[:400]
            if traced:
                self.spark_per_op[op_id] = TRACER.spark_metrics(sc, op_id, self.slots)
            self.timed_s += elapsed
            self.samples.append(Sample(op.name, op.kind, elapsed * 1000.0, ok, traced, error))
            TRACER.enabled = traced
        TRACER.enabled = False


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[lo] == math.inf or xs[hi] == math.inf:
        return math.inf
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latencies(samples: list[Sample], kinds: tuple[str, ...] | None = None) -> list[float]:
    """Latencies in ms; a failed operation misses every latency limit."""
    return [
        s.ms if s.ok else math.inf
        for s in samples
        if kinds is None or s.kind in kinds
    ]


def _value_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple((x is None, round(x, 3) if isinstance(x, float) else x) for x in row)


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    """Row lists equal up to float rounding; unordered results are compared
    after sorting both sides."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(
        len(g) == len(w) and all(_value_eq(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
