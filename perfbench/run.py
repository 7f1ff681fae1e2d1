"""Benchmark of record: one command, two seeded workloads.

    python3 perfbench/run.py --workload {rollup,serve} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout. It starts a Spark session sized to the
box, builds the workload's inputs from ``--seed``, sets up (for ``serve``,
a checked pass that is also its warm-up), measures and checks every output:
``rollup`` times one cold pipeline run, ``serve`` times passes of its query
mix for ``--seconds`` seconds. The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. The line before it is a JSON report with the
session facts, every measured value and, for traced runs, the spans.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

_S, _N, _B = "s", "count", "bytes"
# every per-layer metric a traced run prints; a layer a workload does not
# call reports 0 there
PER_LAYER = {
    "pages.enrich_s": _S, "pages.rows": _N, "pages.extract_mismatches": _N,
    "ingest.samples_s": _S, "ingest.samples_rows": _N, "ingest.decode_map_s": _S,
    "tiers.1m_s": _S, "tiers.1h_s": _S, "tiers.1d_s": _S, "tiers.rows": _N,
    "tiers.shuffle_write_bytes": _B, "tiers.spill_bytes": _B,
    "lineage.fingerprint_s": _S, "lineage.write_s": _S, "lineage.publish_s": _S,
    "lineage.jobs": _N, "lineage.files_written": _N, "lineage.partitions_written": _N,
    "lineage.partitions_skipped": _N, "lineage.skip_ratio": "ratio",
    "resume.wall_s": _S, "resume.partitions_written": _N, "resume.partitions_skipped": _N,
    "resume.skip_ratio": "ratio", "resume.bytes_written": _B,
    "gorilla.pack_s": _S, "gorilla.kernel_us_per_block": "us",
    "gorilla.unpack_us_per_block": "us", "gorilla.blocks": _N,
    "gorilla.points_per_block": _N, "gorilla.shuffle_write_bytes": _B,
    "parser.parse_s": _S,
    "planner.build_s": _S, "planner.build_jobs": _N, "planner.exchanges": _N,
    "execute.s": _S, "execute.jobs": _N, "execute.shuffle_bytes": _B,
    "execute.spill_bytes": _B,
    "formatter.s": _S, "formatter.lines": _N,
    "spark.cache_entries_growth": _N, "spark.cached_bytes": _B, "spark.gc_s": _S,
    "spark.executor_run_s": _S, "spark.tasks": _N,
    "trace.wall_s": _S, "trace.uncovered_s": _S, "trace.overhead_s": _S,
}


def box_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem = {ln.split(":")[0]: int(ln.split()[1]) * 1024 for ln in f}
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_bytes": mem["MemTotal"],
        "mem_available_bytes": mem["MemAvailable"],
    }


def driver_heap_gb(mem_total_bytes: int) -> int:
    """A fifth of the box's RAM, between 1 and 4 GB: the driver JVM is the
    whole of local mode, and the box is shared with the Python workers."""
    return max(1, min(4, mem_total_bytes // (5 << 30)))


def start_session(work_dir: str, facts: dict):
    from pyspark.sql import SparkSession

    nproc = facts["nproc"]
    # Python workers import the program from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temp files of the JVM, the gateway and the workers stay in the run's
    # directory, like the shuffle files
    tmp_dir = os.path.join(work_dir, "tmp")
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp_dir, exist_ok=True)
    os.makedirs(local_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.driver.memory": f"{driver_heap_gb(facts['mem_total_bytes'])}g",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.default.parallelism": str(nproc),
        "spark.sql.shuffle.partitions": str(2 * nproc),
        "spark.ui.enabled": "false",
        # spans read their jobs' stages from the status store: keep them all
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
    }
    builder = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    t_setup = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["rollup", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM (the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    # fail before starting anything when the program is not in this tree
    import pq_spark  # noqa: F401

    from spans import RssSampler

    import rollup
    import serve

    per_layer = dict(PER_LAYER)
    for name in serve.HEADLINE + list(serve.PROGRAMS):
        per_layer[f"query.{name}_s"] = _S

    facts = box_facts()
    work_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    spark = None
    try:
        with RssSampler() as rss:
            if args.workload == "rollup":
                spark, conf = start_session(work_dir, facts)
                res = rollup.run(spark, work_dir, args.seed, bool(args.trace))
            else:
                # serve's inputs and oracles are built before Spark starts
                prep = serve.prepare(args.seed, work_dir)
                spark, conf = start_session(work_dir, facts)
                res = serve.run(spark, prep, args.seed, args.seconds, bool(args.trace))
        # session start, input generation and warm-up (with the set-up checks)
        setup_s = res["setup_end"] - t_setup
        import pyspark

        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "box": facts,
            "versions": {"spark": spark.version, "pyspark": pyspark.__version__,
                         "python": sys.version.split()[0]},
            "session_conf": conf,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 2**20,
            "failed_share": res["failed"] / res["attempted"],
            **res["report"],
        }
        if args.trace:
            unknown = set(res["layer"]) - set(per_layer)
            if unknown:
                raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
            metrics = {n: {"value": res["layer"].get(n, 0), "unit": u}
                       for n, u in per_layer.items()}
        else:
            metrics = {"setup_s": {"value": setup_s, "unit": "s"}, **res["metrics"]}
        print(json.dumps(report, default=str))
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
