"""Crawl benchmark of record for warctools_spark.

    python3 perfbench/run.py --workload epoch_bulk --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Runs one workload (see BENCHMARK.json) against the engine's public entry
points at local[nproc], checks every output, prints each metric on its own
line as `metric <name> <value> <unit>`, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's `end_to_end` list; with --trace 1 the run records a
Spark event log and reports the `per_layer` list plus a per-layer table.
Exits non-zero, without a result line, when the engine is not importable,
and non-zero after the result line when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LAST_UNTRACED = os.path.join(WORK_ROOT, "last_untraced.json")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that every output check catches a corrupted output")
    return ap.parse_args(argv)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _task_tally(spark):
    """Failed tasks and stage retries over every job of the session."""
    from perfbench import checks

    st = spark.sparkContext.statusTracker()
    tasks = failed = retried = 0
    for job in st.getJobIdsForGroup(None):
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is None:
                continue
            tasks += s.numTasks
            failed += s.numFailedTasks
            retried += s.currentAttemptId
    return checks.check_tasks(failed, retried, tasks)


def _untraced_p50(workload: str) -> float | None:
    """The latest untraced step median of this workload in this checkout,
    else the committed baseline's."""
    try:
        with open(LAST_UNTRACED) as f:
            return json.load(f)[workload]
    except (OSError, KeyError, ValueError):
        pass
    with open(os.path.join(ROOT, "perfbench", "BASELINE.json")) as f:
        return json.load(f)["workloads"][workload]["step_p50_s"]["median"]


def _remember_untraced(workload: str, p50: float) -> None:
    try:
        with open(LAST_UNTRACED) as f:
            last = json.load(f)
    except (OSError, ValueError):
        last = {}
    last[workload] = p50
    with open(LAST_UNTRACED, "w") as f:
        json.dump(last, f)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import warctools_spark
    except ImportError as e:
        return _fail(f"cannot import the engine ({e}); run from a checkout root")
    if not os.path.abspath(warctools_spark.__file__).startswith(ROOT + os.sep):
        return _fail(f"warctools_spark imported from outside {ROOT}")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)

    from perfbench import checks

    if args.self_test:
        wrong = checks.self_test()
        print("self-test: " + ("every check caught its corruption" if not wrong else f"FAILED {wrong}"))
        return 1 if wrong else 0

    workloads = {w["name"] for w in spec["workloads"]}
    if args.workload not in workloads:
        return _fail(f"--workload must be one of {sorted(workloads)}")

    from perfbench import host, traced, workloads as W
    from perfbench import eventlog as EL

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    W.cleanup(work)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts first to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        with host.UsageSampler() as usage:
            t0 = time.perf_counter()
            spark = host.build_session(work, event_dir)
            session_s = time.perf_counter() - t0
            try:
                ctx = W.Ctx(spark, work, args.seed, args.seconds)
                res = W.WORKLOADS[args.workload](ctx)
                if args.trace and args.workload == "crawl_loop":
                    res.info["fpr_measured"] = W.bloom_fpr(spark, res.info["bloom"])
                res.tally.add(_task_tally(spark))
            finally:
                host.stop_session(spark)
        peak_mb = usage.peak_pss / 1e6
        step_cpu = [usage.cpu_at(t1) - usage.cpu_at(t0) for t0, t1, _ in res.steps]
        e2e = {
            "setup_s": session_s + res.setup_s,
            "work_items_per_s": res.items_per_s,
            "step_p50_s": res.step_p50_s,
        }
        if args.trace:
            log = EL.load(EL.find_log(event_dir))
            values, tables = traced.per_layer(
                args.workload, log, res, ctx.clock,
                _untraced_p50(args.workload), args.seed,
            )
            values["process.peak_pss_mb"] = peak_mb
            values["process.cpu_s_per_step"] = statistics.median(step_cpu)
            for phase, tab in tables.items():
                print(f"layers {phase} (traced wall {tab['wall_s']:.3f} s)")
                for layer, row in sorted(tab["layers"].items(), key=lambda kv: -kv[1]["wall_s"]):
                    print(
                        f"  {layer:36s} {row['wall_s']:8.3f} s {100 * row['share']:6.1f}% "
                        f"rows {row['rows']:>9.0f} bytes {row['bytes']:>11.0f} wait {row['wait_s']:.3f} s"
                    )
            share = values["trace.layer_sum_share"]
            print(f"layer shares sum to {100 * share:.1f}% of the traced wall")
            res.tally.check(abs(share - 1) <= 0.10, "layer shares not within 10% of the traced wall")
            print(f"tracing overhead {values['trace.overhead_s']:+.3f} s per step")
            wanted = spec["per_layer"]
        else:
            values = e2e
            wanted = spec["end_to_end"]
            _remember_untraced(args.workload, res.step_p50_s)
        named = {
            "setup_s": (e2e["setup_s"], "s"),
            "peak_pss_mb": (peak_mb, "MB"),
            "error_rate": (res.tally.failed / res.tally.attempted, "ratio"),
            **res.named,
        }
        for name, (value, unit) in named.items():
            print(f"metric {name} {value!r} {unit}")
        print("steps_s " + " ".join(f"{s:.3f}" for s in res.step_s))
        print("steps_cpu_s " + " ".join(f"{c:.3f}" for c in step_cpu))
        for problem in res.tally.problems:
            print(f"check failed: {problem}")
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
        correct = res.tally.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": res.tally.attempted,
            "failed": res.tally.failed,
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        W.cleanup(work)


if __name__ == "__main__":
    sys.exit(main())
