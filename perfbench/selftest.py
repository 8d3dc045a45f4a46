"""Self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py            # all checks (a few minutes)
    python3 perfbench/selftest.py --quick    # in-process checks only

Checks that
- every metric named in BENCHMARK.json is printed with its unit, and the
  report carries its sample count (untraced and traced runs, every workload);
- a deliberately corrupted expected result is reported as a failed
  operation;
- the memory probe counts every process under the driver: children
  started from a thread other than the main one (as the JVM starts its
  Python workers) and their children, and a run's Python workers;
- the traced run's spans nest, each child inside its parent, and
  ``engine.run``'s own self time plus its descendants' self times add up
  to its duration;
- without the library next to it the benchmark exits non-zero and prints
  no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SMALL_SF = 0.01  # the repository's sf0.01 tables


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "5", "--seconds", "2",
        "--trace", str(trace), "--sf", str(SMALL_SF), *extra,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report_line = next(line for line in lines if line.startswith("perfbench report: "))
    return result, json.loads(report_line[len("perfbench report: "):])


def check_spans_in_process() -> None:
    from spans import Tracer, nested_ok, self_times

    t = Tracer()
    t.enabled = True
    t.op_id = 0
    with t.span("engine.run"):
        with t.span("plans.referenced_tables"):
            time.sleep(0.002)
        with t.span("sources.to_dataframe"):
            with t.span("sources.pruned_files"):
                time.sleep(0.002)
    assert nested_ok(t.spans)
    selfs = self_times(t.spans)
    run = t.spans[0]
    assert abs(sum(selfs) - (run["end"] - run["start"])) < 1e-9
    t.spans[1]["end"] = run["end"] + 1.0  # a child outliving its parent
    assert not nested_ok(t.spans)


def check_process_tree() -> None:
    import signal
    import threading

    from harness import process_tree

    started, done = [], threading.Event()

    def spawn() -> None:
        # the spawning thread stays alive: a thread's children move to the
        # main thread only when it exits
        started.append(
            subprocess.Popen(["sh", "-c", "sleep 60 & wait"], start_new_session=True)
        )
        done.wait()

    thread = threading.Thread(target=spawn)
    thread.start()
    try:
        deadline = time.time() + 10
        while (not started or len(process_tree(started[0].pid)) < 2) and time.time() < deadline:
            time.sleep(0.05)
        child = started[0]
        tree = process_tree(os.getpid())
        assert child.pid in tree, "child of a non-main thread missed"
        grandchildren = set(process_tree(child.pid)) - {child.pid}
        assert len(grandchildren) == 1 and grandchildren <= set(tree), "grandchild missed"
    finally:
        done.set()
        thread.join()
        for child in started:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()


def check_metrics(result: dict, report: dict, names: dict[str, str], key: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(names), set(result["metrics"]) ^ set(names)
    for name, unit in names.items():
        metric = result["metrics"][name]
        assert set(metric) == {"value", "unit"}, metric
        assert metric["unit"] == unit, (name, metric["unit"], unit)
        assert isinstance(metric["value"], (int, float))
        assert isinstance(report[key][name]["n"], int), name


def check_workload(workload: str, spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    result, report = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0, report["errors"]
    check_metrics(result, report, e2e, "end_to_end")
    for m in e2e:
        assert result["metrics"][m]["value"] > 0, m
    procs = report["rss_processes_mb"]
    names = [name for name, _ in procs]
    assert names[0].startswith("python") and "java" in names, names
    workers = [mb for name, mb in procs[1:] if name.startswith("python")]
    assert workers and min(workers) > 0, procs  # the JVM's Python workers count
    assert abs(sum(mb for _, mb in procs) - result["metrics"]["peak_rss_mb"]["value"]) < 1, procs

    result, report = _run(workload, 1)
    assert result["correct"], report["errors"]
    check_metrics(result, report, layers, "per_layer")
    checks = report["trace_checks"]
    assert checks["spans"] > 0 and checks["nested"], checks
    assert checks["engine_run_self_residual_ms"] < 1e-6, checks
    with open(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-5.json")) as fh:
        from spans import nested_ok

        assert nested_ok(json.load(fh)["spans"])

    result, report = _run(workload, 0, "--corrupt-expected")
    assert not result["correct"] and result["failed"] >= 1, result
    assert report["failed_ops_share"]["value"] > 0


def check_needs_library() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "buzz_interactive",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            capture_output=True, text=True, cwd=tmp, timeout=170,
        )
        assert out.returncode != 0 and not out.stdout.strip(), (out.returncode, out.stdout)


def main() -> int:
    check_spans_in_process()
    check_process_tree()
    check_needs_library()
    print("in-process checks passed")
    if "--quick" in sys.argv:
        return 0
    spec = _spec()
    for workload in (w["name"] for w in spec["workloads"]):
        check_workload(workload, spec)
        print(f"{workload}: metrics, failure accounting and span nesting passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
