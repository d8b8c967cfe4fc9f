"""Benchmark of record for hive_export_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets Spark up once from a cold JVM, drives the workload for
``--seconds``, checks every output against a pure-Python reference, and
prints one JSON object as the last line of standard output: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (metric
names and units come from BENCHMARK.json). The tracing overhead is a traced
run's end-to-end metrics against the untraced medians recorded in
``untraced_medians.json``. A line before the result carries
the run's context: nproc, load average, input properties and the
workload's own metric names. Everything the run writes lives under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (span files
of traced runs). Before it exits, the run stops the Spark JVM and its
Python workers and waits until each has ended. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
from dataclasses import dataclass
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4


@dataclass
class Context:
    spark: object
    tracer: object
    work_dir: str
    rng: random.Random
    seconds: float
    smoke: bool
    layer_probe: Callable[[], dict] | None = None


def _workloads():
    from perfbench import export_workloads, llm_workloads

    return {
        "export_batch_stream": export_workloads.export_batch_stream,
        "llm_dedup_ann": llm_workloads.llm_dedup_ann,
    }


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), MAX_CORES))


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "hive_export_spark", "__init__.py")):
        print(f"perfbench: no hive_export_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        specs = _metric_specs()
    except (OSError, ValueError, KeyError) as exc:
        print(f"perfbench: cannot read BENCHMARK.json: {exc!r}", file=sys.stderr)
        return 2
    if args.workload not in specs["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # hermetic: the package reaches the Python workers through PYTHONPATH;
    # Spark's scratch, temp files and outputs stay in a per-run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cwd = os.getcwd()
    os.chdir(work)
    from perfbench.harness import adopt_orphans, stop_processes

    # every way out, a SIGTERM included, ends the JVM and its workers first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    try:
        return _run(args, specs, work)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)   # let the clean-up finish
        stop_processes()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def _overhead(workload: str, traced: dict) -> dict[str, float]:
    """Traced end-to-end values over the recorded untraced medians."""
    with open(os.path.join(ROOT, "perfbench", "untraced_medians.json"), encoding="utf-8") as fh:
        base = json.load(fh)["workloads"][workload]
    return {
        "trace.latency_p50_ratio": traced["latency_p50_ms"] / base["latency_p50_ms"],
        "trace.throughput_ratio": traced["throughput_per_s"] / base["throughput_per_s"],
    }


def _run(args, specs, work: str) -> int:
    from perfbench.harness import PssSampler, Tracer, set_up_session, spark_conf

    traced = bool(args.trace)
    load_start = os.getloadavg()
    tracer = Tracer(traced)
    with PssSampler() as mem:
        spark, (setup_s, get_spark_s) = set_up_session(_cores(), spark_conf(work, traced))
        try:
            tracer.bind(spark)
            ctx = Context(spark, tracer, work, random.Random(args.seed), args.seconds, args.smoke)
            outcome = _workloads()[args.workload](ctx)
            if traced:
                tracer.finish()
                layers = ctx.layer_probe() if ctx.layer_probe else {}
        finally:
            spark.stop()

    e2e = {"setup_s": setup_s, "peak_pss_mb": mem.peak_mb}
    e2e.update(outcome.end_to_end)
    missing = [n for n in specs["end_to_end"] if n not in e2e]
    if missing:
        outcome.fail(f"no value for {missing}")
    if traced:
        layers.update(
            {
                "session.get_spark_s": get_spark_s,
                **{f"spark.{k}": v for k, v in tracer.totals().items()},
                "trace.spans": len(tracer.spans),
                **({} if missing else _overhead(args.workload, e2e)),
            }
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
        wanted, values = specs["per_layer"], layers
    else:
        wanted, values = specs["end_to_end"], e2e

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": traced,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": _cores(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "peak_pss_mb_parts": {k: v / 1024 for k, v in mem.peak_parts.items()},
        "failed_op_frac": outcome.failed / max(outcome.attempted, 1),
        "errors": outcome.errors[:20],
        **outcome.info,
    }
    print(json.dumps(info, default=str))
    result = {
        "correct": outcome.failed == 0,
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed,
        # a layer the workload never calls reads 0 (see perfbench/README.md)
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in wanted.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
