"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` measures the workload untraced, then again with the Spark
event log on and a job group set per span, and prints the per-layer
metrics folded from that log. The last stdout line is the JSON result;
the lines before it (prefixed ``#``) are the provenance record and the
per-span breakdown, also written under ``.bench_build/perfbench/reports``.
See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: Spark starts and input reads per untraced run; setup_s takes their median
SETUP_REPS = 3
DRIVER_MEMORY = "2g"
#: Spark task threads; two leave the rest of a small host to the driver,
#: the JIT and the Python workers
MAX_CORES = 2


def cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def start_spark(out: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(out / "spark-local"))
        .config("spark.sql.warehouse.dir", str(out / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={out / 'tmp'} -Dderby.system.home={out / 'tmp'}")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.dir", str(event_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def java_version(spark) -> str:
    return str(spark.sparkContext._jvm.System.getProperty("java.version"))


def provenance(run, args, load_before, load_after, spark_versions) -> dict:
    head = ROOT / ".git" / "HEAD"
    commit = "unknown"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            p = ROOT / ".git" / ref[5:]
            commit = p.read_text().strip() if p.is_file() else ref[5:]
        else:
            commit = ref
    n = cores()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores_used": n,
        "driver_memory": DRIVER_MEMORY,
        "loadavg_before": load_before, "loadavg_after": load_after,
        # outside load on a shared host: flag it, keep the run
        "loaded": max(load_before[0], load_after[0]) > 0.75 * (os.cpu_count() or n),
        "python": platform.python_version(), **spark_versions, "git_commit": commit,
        **run.info,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "lucene_spark" / "__init__.py").is_file():
        print(f"perfbench: no lucene_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path[:0] = [str(HERE), str(ROOT)]
    import layers
    from tracing import Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = ROOT / ".bench_build" / "perfbench"
    out = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(out / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    run = Run(out=out, seed=args.seed, seconds=args.seconds, tracer=Tracer())
    wl = WORKLOADS[args.workload](run)  # inputs are generated before any timing
    load_before = list(os.getloadavg())
    spark = None
    try:
        if args.trace == 0:
            # Spark start and input read: cheap, so repeated and the median
            # taken; the program's own preparation (build, serving layout)
            # runs once, it costs most of a run
            open_s = []
            for _ in range(SETUP_REPS):
                t0 = time.time()
                if spark is not None:
                    spark.stop()
                spark = run.spark = start_spark(out)
                wl.open()
                open_s.append(time.time() - t0)
            run.info["java"] = java_version(spark)
            t0 = time.time()
            wl.prepare()
            prep_s = time.time() - t0
            wl.after_setup()
            wl.measure()
            wl.verify()
            metrics = layers.end_to_end(run, open_s, prep_s)
            run.info.update(open_s=open_s, prep_s=prep_s)
        else:
            spark = run.spark = start_spark(out)
            run.info["java"] = java_version(spark)
            wl.open()
            wl.prepare()
            wl.after_setup()
            wl.measure()
            untraced = dict(run.values)
            spark.stop()
            events = out / "eventlog"
            spark = run.spark = start_spark(out, events)
            run.tracer = Tracer(spark.sparkContext)
            wl.open()
            wl.prepare()
            wl.after_setup()
            wl.measure()
            wl.verify()
            layers.pipeline_probe(run, wl.corpus)
            spark.stop()
            spark = None
            metrics = layers.per_layer(run, untraced, wl.build_docs, wl.corpus, events)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
        stop_spark_gateway()
        shutil.rmtree(out, ignore_errors=True)
    load_after = list(os.getloadavg())
    from pyspark import __version__ as spark_version

    prov = provenance(run, args, load_before, load_after,
                      {"spark": spark_version, "java": run.info.pop("java", "unknown")})
    report = {"provenance": prov, "failures": run.failures, "spans": layers.span_table(run),
              "span_log": [asdict(s) for s in run.tracer.spans]}
    reports = base / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    (reports / name).write_text(json.dumps(report, indent=1, default=str))
    print("# provenance " + json.dumps(prov, default=str))
    for line in layers.span_lines(report["spans"]):
        print("# " + line)
    for f in run.failures:
        print("# FAILED " + f)
    caught = bool(run.info.get("self_check_caught"))
    result = {
        "correct": run.failed == 0 and caught,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def stop_spark_gateway() -> None:
    """End the JVM started for the session (if any) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None


if __name__ == "__main__":
    sys.exit(main())
