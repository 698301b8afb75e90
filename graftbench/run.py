"""The repository's benchmark: one closed-loop client, one workload a run.

    python3 graftbench/run.py --workload etl_batch --seed 1 --seconds 10 \\
        --trace 0

Run it from the repository root. Workloads (see NOTES.md for why each):
``etl_batch``, ``rest_reads``, ``catalog_headline``. Inputs are generated
from ``--seed`` before the clock starts, under ``.graftbench_run/`` in the
root, which the run removes when it ends.

``--trace 0`` reports the end-to-end metrics (set-up time, median op
latency, ops per second). ``--trace 1`` is a separate run that wraps every
call into a layer in a span with its own Spark job group and reports the
per-layer metrics read back from Spark's status store. The last line of
stdout is the result object; the line before it (``run_info {...}``)
records the run's conditions. ``--size tiny`` and ``--corrupt-expected``
exist for ``graftbench/smoke.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import workloads  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402

# Stop starting whole iterations once a run has been alive this long, so
# that a slow machine still ends well inside the 180-s limit of a run.
WALL_CAP_S = 120.0

# HotSpot writes a perf-data file under /tmp whatever java.io.tmpdir says
NO_PERF_DATA = "-XX:-UsePerfData"

END_TO_END = {"setup_s": "s", "p50_ms": "ms", "ops_per_s": "1/s"}

PER_LAYER = {
    "session.start_s": "s",
    "session.trivial_job_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.outside_jobs_ms_per_op": "ms",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.input_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.failed_tasks": "count",
    "sources.read_ms": "ms",
    "etl.csv_scans_per_op": "count",
    "etl.raw_count_ms": "ms",
    "etl.clean_count_ms": "ms",
    "etl.critical_count_ms": "ms",
    "load.overwrite_ms.clean": "ms",
    "load.overwrite_ms.critical": "ms",
    "load.overwrite_ms.companies": "ms",
    "load.overwrite_ms.charges": "ms",
    "load.bytes_written_per_op": "bytes",
    "load.files_written_per_op": "count",
    "api.plan_ms": "ms",
    "api.parse_cursor_ms": "ms",
    "api.paginate_ms": "ms",
    "api.rows_ms": "ms",
    "api.rows_read_per_row_returned": "ratio",
    "first100.extract_ms": "ms",
    "first100.missing_ms": "ms",
    "first100.reset_ms": "ms",
    "first100.jobs_per_call": "count",
    "catalog.build_ms": "ms",
    "catalog.collect_ms": "ms",
    "catalog.release_ms": "ms",
    **{f"catalog.{name}.{m}": unit
       for name in ("h1_daily_totals", "q1_pricing_summary", "q3_top_revenue",
                    "q5_local_supplier_volume", "q6_forecast_revenue",
                    "q9_product_profit", "q18_large_orders",
                    "q21_sole_blamed_supplier", "etl_clean_scaled",
                    "dedup_exact", "dedup_minhash_lsh", "dedup_repeated_spans",
                    "pipeline_docs_curate", "pipeline_training_data",
                    "sim_topk_bruteforce", "sim_topk_ann_srp",
                    "stream_tumbling_hourly", "stream_sessionize",
                    "skew_plain_agg", "skew_salted_agg",
                    "layout_bucketed_join", "text_bpe_encode")
       for m, unit in (("ms", "ms"), ("jobs", "count"))},
    "catalog.cached_bytes_after_release": "bytes",
    "host.cpu_ms_per_op": "ms",
    "host.jvm_peak_rss_mb": "MB",
    "host.steal_share": "share",
    "trace.overhead_share": "share",
}


def program_missing(root: str) -> str | None:
    for rel in ("python_etl_rest_api_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            return rel
    return None


def run_environment(work: str) -> None:
    """Give the run its own temp, Spark-local and JVM temp dirs inside the
    checkout, and pin the session's shape."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # the program's 48g default heap exceeds the RAM of small hosts
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA}"),
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


def measure(args, work: str) -> tuple[dict, dict]:
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.size,
                                            corrupt_expected=False)
    t0 = time.perf_counter()
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "size": args.size,
            "inputs": wl.make_inputs(),
            "other_spark_jvms_at_start": host.other_spark_jvms()}
    info["inputs_s"] = time.perf_counter() - t0

    # -- set-up: session start, workload preparation, warm-up ------------
    t_setup = time.perf_counter()
    from python_etl_rest_api_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("graftbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    wl.spark, wl.tracer = spark, NullTracer()
    wl.setup()
    setup_s = time.perf_counter() - t_setup - wl.check_s

    sc = spark.sparkContext
    info.update({
        "master": sc.master,
        "effective_cpus": len(os.sched_getaffinity(0)),
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
    })
    trivial_ms = []
    if args.trace:
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(1).count()
            trivial_ms.append((time.perf_counter() - t0) * 1000)
        wl.tracer = Tracer(sc)
    wl.corrupt = args.corrupt_expected

    # -- the window: whole iterations until --seconds of op time ----------
    ops: list[workloads.Op] = []
    busy, others = 0.0, info["other_spark_jvms_at_start"]
    cpu0, stat0 = host.tree_cpu_seconds(), host.cpu_times()
    while busy < args.seconds or not ops:
        batch = wl.iteration()
        ops += batch
        busy += sum(o.seconds for o in batch)
        others = max(others, host.other_spark_jvms())
        if time.time() - START > WALL_CAP_S:
            info["window_cut_short"] = True
            break
    cpu1, stat1 = host.tree_cpu_seconds(), host.cpu_times()
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.seconds * 1000)
    info.update({"other_spark_jvms_during": others,
                 "overlap_flag": others > 0,
                 "host.steal_share": host.steal_share(stat0, stat1),
                 "window_op_seconds": busy, "ops": len(ops),
                 "p50_ms_by_kind": {k: statistics.median(v)
                                    for k, v in kinds.items()},
                 "op_ms": [round(o.seconds * 1000, 1) for o in ops]})

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "p50_ms": statistics.median(o.seconds for o in ops) * 1000,
            "ops_per_s": len(ops) / busy,
        }
        units = END_TO_END
    else:
        t = wl.tracer
        t.read_back()
        stats = [t.op_stats(s) for s in t.ops()]

        def per_op(key):
            return sum(s[key] for s in stats) / len(stats)

        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update({
            "session.start_s": session_start_s,
            "session.trivial_job_ms": statistics.median(trivial_ms),
            "spark.jobs_per_op": per_op("jobs"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "spark.outside_jobs_ms_per_op": per_op("outside_jobs_ms"),
            "spark.executor_run_ms_per_op": per_op("run_ms"),
            "spark.executor_cpu_ms_per_op": per_op("cpu_ms"),
            "spark.gc_ms_per_op": per_op("gc_ms"),
            "spark.input_bytes_per_op": per_op("input_bytes"),
            "spark.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
            "spark.spill_bytes_per_op": per_op("spill_bytes"),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in stats),
            "host.cpu_ms_per_op": (cpu1 - cpu0) * 1000 / len(ops),
            "host.jvm_peak_rss_mb": host.jvm_peak_rss_mb(),
            "host.steal_share": info["host.steal_share"],
            "trace.overhead_share": t.overhead_s / busy,
        })
        metrics.update(wl.layer_metrics(ops))
        units = PER_LAYER
        by_kind: dict[str, list[dict]] = {}
        for span, st in zip(t.ops(), stats):
            by_kind.setdefault(span.name[3:], []).append(st)
        info["traced_by_kind"] = {
            k: {key: sum(s[key] for s in v) / len(v)
                for key in ("jobs", "stages", "outside_jobs_ms", "csv_scans")}
            for k, v in by_kind.items()}
    info.update(wl.info)
    failed = [o for o in ops if not o.ok]
    for o in failed[:5]:
        print(f"failed op {o.kind}: {o.error}", file=sys.stderr)
    result = {"correct": not failed, "attempted": len(ops),
              "failed": len(failed),
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    return info, result


START = time.time()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SIZES),
                   default="default")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="check every op against a wrong answer")
    args = p.parse_args(argv)

    root = os.getcwd()
    missing = program_missing(root)
    if missing:
        print(f"graftbench: {missing} not found under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".graftbench_run",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run_environment(work)
    os.chdir(work)      # spark-warehouse/ and derby.log land in the run dir
    try:
        info, result = measure(args, work)
    finally:
        from pyspark.sql import SparkSession
        t0 = time.perf_counter()
        host.stop_spark_and_wait(SparkSession.getActiveSession())
        teardown_s = time.perf_counter() - t0
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    info["teardown_s"] = teardown_s
    info["wall_seconds"] = time.time() - START
    print("run_info " + json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
