"""Seeded end-to-end benchmark of bobo_spark.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 20 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/README.md) from a
single process against ``local[N]``, N = the CPUs this process may use.
It builds nothing ahead: the engine is imported from the checkout's
``bobo_spark`` package. All scratch state (Spark local dirs, the index,
the span file) lives under ``.perfbench/`` in the checkout.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is a JSON detail record: seed, input digest,
per-class attempted/failed counts and any mismatch. The exit code is
0 only when every correctness check passed and no call failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNITS = {"setup_s": "s", "p50_ms": "ms", "throughput_per_s": "1/s", "driver_peak_rss_mb": "MB"}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, read from the suffix of its name."""
    for part in name.split(".")[1:]:
        for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%"),
                             ("_share", "ratio"), ("_per_input_byte", "ratio")):
            if part.endswith(suffix):
                return unit
        if part == "bytes":
            return "B"
    return "count"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str):
    """A local session whose scratch stays inside ``work``, with the
    checkout on the Python workers' path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher included, keeps its temp files in ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from bobo_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit: the gateway JVM quits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import bobo_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(bobo_spark.__file__))) != ROOT:
        print(f"perfbench: bobo_spark comes from {bobo_spark.__file__}, "
              f"not from the checkout {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_spark(work)
    run = Run(spark, args.seed, args.seconds, bool(args.trace), run_dir)
    run.phases["spark_start"] = round(time.perf_counter() - t0, 3)
    try:
        out = WORKLOADS[args.workload](run)
    except Exception as e:  # noqa: BLE001 - report, then fail the run
        run.errors.append(f"{type(e).__name__}: {e}"[:300])
        out = None
    finally:
        if run.trace:
            run.tracer.write(os.path.join(
                work, f"spans-{args.workload}-{args.seed}.jsonl"))
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        run.phase("stop")
    attempted = sum(run.attempted.values())
    failed = sum(run.failed.values())
    correct = out is not None and not run.mismatches and failed == 0
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "input_digest": out and out["digest"],
              "requests": out and out["requests"],
              "p50_ms_by_class": out and out["p50_ms_by_class"],
              "batch_per_s": out and out.get("batch_per_s"),
              "attempted_by_class": dict(run.attempted),
              "failed_by_class": dict(run.failed),
              "mismatches": run.mismatches[:20], "errors": run.errors[:20],
              "phases_s": run.phases, "wall_s": time.perf_counter() - t0}
    print(json.dumps(detail))
    if out is None:
        print("perfbench: the workload did not complete", file=sys.stderr)
        return 1
    if args.trace:
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": float(v), "unit": UNITS[k]}
                   for k, v in out["e2e"].items()}
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
