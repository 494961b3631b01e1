"""Benchmark of the quality engine: three workloads, end-to-end metrics
from an untraced run, per-layer metrics from a traced one.

    python3 perfbench/run.py --workload suite_commit --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON record of host context,
then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. Exits 1 when an output fails verification and 2 when the
engine cannot be imported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("suite_commit", "corpus_queries")
# pinned so the 15 GB host is never oversubscribed (the engine's own
# default is 24g); recorded in every result
DRIVER_MEM = "2g"
END_TO_END_UNITS = {
    "job_s": "s",
    "pages_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every temporary file of Python, the JVMs and Spark in ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("RQC_CHECKPOINT_DIR", None)


def start_spark(work: Path, cores: int, shuffle: int, trace: bool):
    from reviews_quality_check_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=shuffle, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for every process
    they started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench import host

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = host.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in host.wait_gone(started, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    host.wait_gone(started, 10)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import reviews_quality_check_spark  # noqa: F401
        from perfbench import host
        from perfbench.trace import Tracer, find_event_log, parse_event_log
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine under test: {exc}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    cores = len(os.sched_getaffinity(0))
    shuffle = 2 * cores
    ctx = host.context() | {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "shuffle_partitions": shuffle,
        "driver_memory": DRIVER_MEM,
    }
    error = None
    wl = None
    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_spark(work, cores, shuffle, bool(args.trace))
        session_s = time.perf_counter() - t0
        ctx["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        try:
            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
            setup_s = session_s + wl.setup()
            wl.loop(args.seconds)
            if args.trace:
                wl.after_loop()
        except Exception:  # noqa: BLE001 - report any failure as a failed run
            error = traceback.format_exc()
        finally:
            stop_spark(spark)

    ctx["load1_end"] = os.getloadavg()[0]
    ok = error is None and wl.failed == 0
    attempted = wl.attempted if wl else 1
    failed = wl.failed + (error is not None) if wl else 1
    if error is not None:
        print(error, file=sys.stderr)
        metrics = {}
    elif args.trace:
        log = parse_event_log(find_event_log(work / "eventlog"))
        tracer.dump(ROOT / ".perfbench_spans.jsonl")
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in wl.layer_metrics(log).items()}
    else:
        job_s = statistics.median(wl.job_s)
        values = {
            "job_s": job_s,
            "pages_per_s": wl.rows_per_job / job_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "ok_frac": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    if wl is not None:
        ctx |= {"session_s": session_s, "gen_s": wl.gen_s, "verify_s": wl.verify_s,
                "job_s_all": wl.job_s, "released_rdds": wl.released_rdds}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
