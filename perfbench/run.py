"""Benchmark entry point.

    python3 perfbench/run.py --workload buzz_interactive --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[<cpus>]`` from the root of a
checkout of the repository.  Inputs are rebuilt from ``--seed`` under
``.perfbench_work/``; a report with sample counts, session settings and
(when traced) the spans is written under ``.perfbench_out/``.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("buzz_interactive", "lakehouse_rw")


def _load_workload(name: str):
    if name == "buzz_interactive":
        from wl_buzz import BuzzInteractive

        return BuzzInteractive
    from wl_lakehouse import LakehouseRW

    return LakehouseRW


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None,
        help="input scale (default: the workload's own; smaller for self-tests)",
    )
    ap.add_argument(
        "--corrupt-expected", action="store_true",
        help="self-test hook: perturb one expected result, which must then "
        "be reported as a failed operation",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    import importlib.util

    spec = importlib.util.find_spec("buzz_rust_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        # measure the checkout's library, never an installed copy
        print(f"perfbench: no buzz_rust_spark package under {ROOT}", file=sys.stderr)
        return 2

    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    harness.reset_dir(work)
    os.makedirs(out_dir, exist_ok=True)
    # the session reads SPARK_GRAFT_* when the library is first imported
    pinned = harness.pin_environment(work)

    import layers
    from spans import TRACER, install

    if args.trace:
        install()
    TRACER.enabled = bool(args.trace)
    phases = {"imports": time.time() - PROCESS_START}
    spark = None
    try:
        spark = harness.start_spark(work)
        spark.range(1).count()  # first job: JVM class loading and code generation
        phases["session"] = time.time() - PROCESS_START
        TRACER.enabled = False
        info = harness.session_info(spark, args.seed, pinned)
        cls = _load_workload(args.workload)
        wl = cls(spark, os.path.join(work, "wl"), args.seed, args.sf or cls.default_sf)
        wl.setup()
        phases["inputs"] = time.time() - PROCESS_START
        wl.warmup()
        phases["warmup"] = time.time() - PROCESS_START
        if args.corrupt_expected:
            wl.corrupt_one_expected()
        if args.trace:
            wl.start_accounting()
        setup_s = time.time() - PROCESS_START

        window = harness.Window(spark, int(pinned["cpus"]))
        steal0 = harness.cpu_steal()
        # At least two whole rounds, so one slow stretch of the host cannot
        # leave a run with a single round.  Traced runs alternate traced and
        # untraced rounds, so trace overhead is measured on the same
        # operation mix.
        n = 0
        while n < 2 or window.timed_s < args.seconds:
            window.run_round(wl.round(), traced=bool(args.trace) and n % 2 == 0)
            n += 1
        final_ok = wl.final_check()
        own = wl.layer_metrics() if args.trace else {}
        wl.close()
        peak, rss_processes = harness.peak_rss()
        steal1 = harness.cpu_steal()
        info["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        info["cpu_steal_share"] = round(
            (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4
        )
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if spark is not None:
                harness.stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    samples = window.samples
    failed = sum(1 for s in samples if not s.ok)
    e2e, report_only = layers.end_to_end(window, setup_s, peak)
    report = {
        "workload": args.workload,
        "session": info,
        "setup_s": setup_s,
        "setup_phases_s": phases,
        "rounds": n,
        "timed_s": window.timed_s,
        "latencies_ms": [[s.name, round(s.ms, 1), s.traced] for s in samples],
        "final_check": final_ok,
        "rss_processes_mb": rss_processes,
        "errors": [f"{s.name}: {s.error}" for s in samples if not s.ok][:20],
        "end_to_end": e2e,
        **report_only,
        "workload_metrics": {k: v[0] for k, v in own.items()},
    }
    metrics = e2e
    if args.trace:
        per_layer, checks = layers.per_layer(window, TRACER, own)
        report["per_layer"] = per_layer
        report["trace_checks"] = checks
        metrics = per_layer
        with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": TRACER.spans, "spark_per_op": window.spark_per_op}, fh)
    with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    print("perfbench report: " + json.dumps(report, default=str))
    correct = failed == 0 and final_ok
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(samples),
                "failed": failed,
                "metrics": {
                    k: {"value": v["value"] if math.isfinite(v["value"]) else 1e12, "unit": v["unit"]}
                    for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
