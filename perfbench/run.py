"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_incremental --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout of the repository.  It generates the
workload's inputs from ``--seed`` (cached under ``perfbench/_work``), runs
the program on ``local[nproc]`` for ``--seconds`` of whole rounds, checks
every output, writes one result file atomically and prints a pointer to it
followed by one JSON line: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See ``README.md`` in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DRIVER_MEM = "1g"
DEADLINE_S = 140         # plus at most ~35 s to stop: under 180 in all

END_TO_END = {"rows_per_s": "rows/s", "cpu_s_per_krow": "s",
              "peak_rss_mb": "MB", "output_mb": "MB", "slice_p50_s": "s",
              "setup_s": "s"}

PER_LAYER = {
    "html_extract.segment_us": "us", "html_extract.tier1_us": "us",
    "html_extract.tier2_us": "us",
    "udfs.route_us": "us", "udfs.parse_validate_us": "us",
    "udfs.json_us": "us", "udfs.kernel_us": "us",
    "parsers.dni_us": "us", "parsers.permis_us": "us", "parsers.nif_us": "us",
    "udfs.fused_stage_s": "s", "udfs.stage_over_kernel": "ratio",
    "udfs.tier2_rows": "count", "udfs.tier1_accept_ratio": "ratio",
    "job.scan_s": "s", "job.admit_s": "s", "job.repartition_s": "s",
    "job.sinks_lineage_self_s": "s", "job.quarantined_rows": "count",
    "job.output_files": "count", "lineage.partitions": "count",
    "lineage.anti_join_s": "s", "lineage.resume_skip_share": "ratio",
    "textstats.quality_s": "s", "textstats.repetition_s": "s",
    "textstats.decontaminate_s": "s", "dedup.near_minhash_s": "s",
    "urls.host_cap_s": "s", "textstats.shards_s": "s",
    "curate.verdicts_s": "s", "curate.sinks_self_s": "s",
    "curate.kept": "count",
    **{f"curate.n_{r}": "count" for r in (
        "url_blocked", "low_quality", "repetitive", "lang_filtered",
        "contaminated", "high_surprisal", "classifier_rejected",
        "exact_duplicate", "near_duplicate", "host_capped")},
    "dedup.candidate_pairs": "count", "dedup.pair_yield": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.jvm_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "job.build_session_s": "s", "warmup_s": "s", "trace.overhead_s": "s",
}


def _hygiene(trace: bool) -> str:
    """Environment for the driver JVM and the Python workers; returns the
    event-log directory (used only when tracing)."""
    event_dir = os.path.join(WORK, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    # workers import ocr_spark by name; without the checkout on their path
    # they die with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # build_session defaults the driver heap to 24g, above this host's RAM
    os.environ["OCR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if trace:
        # the zstd codec Spark 4 would use needs a module not installed here
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": f"file://{event_dir}"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
        + ["pyspark-shell"])
    sys.path[:0] = [HERE, ROOT]
    return event_dir


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, then anything still alive."""
    import procstat
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                pass  # killed with the rest of the tree below
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = [p for p in procstat.tree_pids() if p != os.getpid()]
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 8
        while pids and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            pids = [p for p in procstat.tree_pids() if p != os.getpid()]
            time.sleep(0.1)
        if not pids:
            return


def _spread(values: list[float]) -> float:
    """Quartile distance over the median (4+ samples), else range."""
    med = statistics.median(values)
    if not med:
        return 0.0
    if len(values) >= 4:
        q1, _, q3 = statistics.quantiles(values, n=4)
        return (q3 - q1) / abs(med)
    return (max(values) - min(values)) / abs(med)


def _host() -> dict:
    import pandas
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as fh:
        ram_kb = int(fh.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": ram_kb // 1024,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__, "driver_mem": DRIVER_MEM}


def _write_result(result: dict, args) -> str:
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    path = os.path.join(res_dir, name)
    with open(path + ".tmp", "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return os.path.relpath(path, ROOT)


def _alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_incremental", "curate_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "job.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}; run from the "
              f"root of a checkout", file=sys.stderr)
        return 2
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    event_dir = _hygiene(bool(args.trace))
    import workloads
    ctx = workloads.Ctx(WORK, args.seed, args.seconds, bool(args.trace),
                        event_dir)
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)
    spark, error = None, None
    try:
        spark = workloads.WORKLOADS[args.workload](ctx)
    except Exception:  # a failed run is reported, not hidden
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        signal.alarm(0)
        from pyspark.sql import SparkSession
        spark = spark or SparkSession.getActiveSession()
        app_id = spark.sparkContext.applicationId if spark else None
        if spark is not None:
            _stop(spark)
    if error is None and args.trace:
        workloads.fold_engine(ctx, app_id)
    # outputs were checked and the event log folded; the result file keeps
    # what they showed
    shutil.rmtree(ctx.out, ignore_errors=True)
    if app_id:
        shutil.rmtree(os.path.join(event_dir, f"eventlog_v2_{app_id}"),
                      ignore_errors=True)

    wanted = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        # a layer this workload never calls did no work: report 0
        for name, unit in PER_LAYER.items():
            ctx.metrics.setdefault(name, (0.0, unit))
    attempted = max(ctx.attempted, 1)
    failed = attempted if error else min(ctx.failed, attempted)
    result = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "correct": error is None and failed == 0,
        "attempted": attempted, "failed": failed,
        "failed_row_frac": failed / attempted,
        "failures": ctx.failures + ([error] if error else []),
        "metrics": {k: {"value": v, "unit": u,
                        "n": len(ctx.samples.get(k, [v])),
                        "median": statistics.median(ctx.samples.get(k, [v])),
                        "spread": _spread(ctx.samples.get(k, [v]))}
                    for k, (v, u) in sorted(ctx.metrics.items())},
        "inputs": ctx.inputs, "host": _host(),
        "spans": ctx.tracer.spans,
    }
    print(f"perfbench: result in {_write_result(result, args)}")
    print(json.dumps({
        "correct": result["correct"], "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": ctx.metrics[k][0], "unit": u}
                    for k, u in wanted.items() if k in ctx.metrics}}))
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main())
