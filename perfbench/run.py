"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_merge --seed 1 --seconds 10 --trace 0

Run from the repository root. `--trace 0` prints the end-to-end metrics of
BENCHMARK.json; `--trace 1` runs the same workload with spans and Spark
status-store reads and prints the per-layer metrics instead. Inputs come
from `perfbench/gen.py` and the seed only. Everything the run writes goes
under `.perfbench_work/` (removed at exit) and, for traced runs, the span
dump under `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()  # the repository root: the program, BENCHMARK.json
sys.path.insert(0, ROOT)

from perfbench.common import (  # noqa: E402
    RssSampler,
    Run,
    host_cpus,
    latency_metrics,
    make_workdir,
    start_spark,
    stop_spark,
)
from perfbench.trace import Tracer, highest_valid_percentile, median  # noqa: E402

# workload -> the module with its `generate_inputs(work, seed, seconds)` and
# `measure(spark, tracer, run, work, seed, seconds) -> (metrics, check)`
WORKLOADS = {"ingest_merge": "perfbench.ingest", "analytics": "perfbench.analytics"}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_layers(tracer: Tracer, run: Run) -> dict:
    """spark.* per operation (micro-batch or pass), from the jobs the
    operation spans own."""
    ops = run.op_spans
    n = max(len(ops), 1)
    tot = tracer.job_totals(ops)
    wall_ms = sum(tracer.spans[i].duration for i in ops) * 1000
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.executor_run_ms": tot["executor_run_ms"] / n,
        "spark.executor_cpu_ms": tot["executor_cpu_ms"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.gc_ms": tot["gc_ms"] / n,
        "spark.core_busy": tot["executor_run_ms"] / (wall_ms * host_cpus()) if wall_ms else 0.0,
        "spark.task_skew": tot["worst_skew"],
    }


def gateway_layers(tracer: Tracer) -> dict:
    def med(name):
        d = [tracer.spans[i].duration for i in tracer.spans_named(name)]
        return median(d) if d else 0.0

    return {"gateway.validate_s": med("gateway.validate"), "gateway.query_s": med("gateway.query")}


def run_workload(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    names = spec()
    work = make_workdir(ROOT, workload, seed)
    wl = importlib.import_module(WORKLOADS[workload])
    run = Run()
    spark = None
    try:
        # inputs first, from a process of their own; then the sampled
        # region: set-up, the measured loop and the read-back only
        wl.generate_inputs(work, seed, seconds)
        with RssSampler() as rss:
            spark, session_s = start_spark(ROOT, work)
            tracer = Tracer(spark, traced)
            out, check = wl.measure(spark, tracer, run, work, seed, seconds)
        check()  # correctness, outside every clock and the sampled region
        if not run.op_s:
            run.fail("no operation completed inside the run")
        if traced:
            values = dict.fromkeys((m["name"] for m in names["per_layer"]), 0.0)
            values.update(out.pop("_layers", {}))
            values.update(spark_layers(tracer, run))
            values.update(gateway_layers(tracer))
            values["session.get_spark_s"] = session_s
            values["trace.overhead_s"] = tracer.overhead_s / max(len(run.op_s), 1)
            values["trace.op_p50_s"] = median(run.op_s) if run.op_s else 0.0
            units = {m["name"]: m["unit"] for m in names["per_layer"]}
            dump = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(dump, exist_ok=True)
            with open(os.path.join(dump, f"{workload}-seed{seed}-spans.json"), "w") as f:
                json.dump({**tracer.to_json(), "problems": run.problems}, f)
        else:
            values = {k: v for k, v in out.items() if not k.startswith("_")}
            values["setup_s"] += session_s
            values.update(latency_metrics(run))
            values["peak_rss_mb"] = rss.peak_kb / 1024
            units = {m["name"]: m["unit"] for m in names["end_to_end"]}
        missing = set(units) - set(values)
        if missing:
            raise RuntimeError(f"metrics not produced: {sorted(missing)}")
        for p in run.problems:
            print(f"check failed: {p}", file=sys.stderr)
        print(
            f"ops={len(run.op_s)} op_s={[round(x, 2) for x in run.op_s]} queries={len(run.query_s)} "
            f"query percentile valid up to p{highest_valid_percentile(len(run.query_s))}",
            file=sys.stderr,
        )
        return {
            "correct": run.failed == 0,
            "attempted": max(run.attempted, 1),
            "failed": run.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs' directories stay
            os.rmdir(os.path.dirname(work))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.perf_counter()
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"wall={time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
