"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run writes only under
``.perfbench_run/`` in that checkout and removes it before exiting. It
prints one line with the run record (host, versions, seed, sample counts)
and, last, the result line: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` they are the ``per_layer`` list,
measured with the layer wrappers installed and the Spark event log on.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "youtube_etl_project_spark"
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")

# The driver heap is the benchmark's choice, not the program's 8g default:
# a fixed 1g heap with a fixed young generation never resizes mid-run, so
# peak RSS moves with the program's old-generation memory rather than with
# the timing of heap growth. With the 8g default the driver JVM reached
# 2.5-3.2 GB on corpus_dedup_ann and peak_rss_mb spread 0.13 (IQR/median)
# over five seeds; with this heap 0.01-0.05 over ten.
DRIVER_MEMORY = "1g"
# No hsperfdata file: the JVM would write it under /tmp.
JVM_OPTS = "-Xms1g -Xmn256m -XX:-UsePerfData"

sys.path.insert(0, HERE)


def configure_env(run_dir: str, trace: bool, cpus: int) -> str:
    """Point every scratch location of Spark, the JVM and Python at
    ``run_dir``; return the event-log directory."""
    conf_dir, local_dir, tmp_dir, events = (
        os.path.join(run_dir, d) for d in ("conf", "local", "tmp", "events")
    )
    for d in (conf_dir, local_dir, tmp_dir, events):
        os.makedirs(d)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{events}",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # pandas-UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp_dir} {JVM_OPTS}",
        "TMPDIR": tmp_dir,
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return events


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this process and of the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out = []
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        out.append(kb / 1024.0)
    return out[0], out[1]


def stop_spark(spark) -> None:
    """Stop the SparkContext, then end the gateway JVM and wait for it, so
    the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def bench(wl, args, run_dir: str, events: str, cpus: int) -> tuple[dict, dict]:
    import layers

    rec = layers.Recorder(tracing=bool(args.trace))
    if args.trace:
        layers.install(rec)  # before any plan module is imported
    from workloads import Samples

    # One set-up, as every daily run pays it: the JVM launch, the program's
    # imports, input generation and warm-up.
    t0 = time.perf_counter()
    from youtube_etl_project_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    wl.prepare(os.path.join(run_dir, "data"), args.seed)
    wl.warm_up(spark)
    setup_s = time.perf_counter() - t0

    out = Samples()
    wl.run(spark, args.seconds, out, rec)
    rss = peak_rss_mb(spark)
    versions = {"spark": spark.version}
    stop_spark(spark)  # also flushes the event log

    timed_passes = 1 + len(out.passes_s)
    # each operation's median over the warm passes; with one to three
    # samples per operation a run reports no tail percentile
    # (op_max_s spread 0.26 over ten runs), only these medians in the record
    op_p50 = {n: statistics.median(ts) for n, ts in out.later_by_op.items()}
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss),
        "cold_pass_s": out.cold_pass_s,
        "warm_pass_p50_s": statistics.median(out.passes_s),
        "op_geomean_s": statistics.geometric_mean(list(op_p50.values())),
        "items_per_s": wl.items_per_pass / statistics.median(out.passes_s),
    }
    if args.trace:
        import eventlog

        layer = rec.snapshot()
        engine = eventlog.sum_groups(eventlog.parse(events), "t:")
        timed_wall = out.cold_pass_s + sum(out.passes_s)
        hits, misses = layer["fixture_cache.hits"], layer["fixture_cache.misses"]
        values = {
            "session.start_s": session_s,
            **layer,
            "upsert.write_amplification": layer["upsert.bytes_written"]
            / (wl.raw_bytes * timed_passes) if layer["upsert.commits"] else 0.0,
            "fixture_cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            **{f"engine.{k}": v for k, v in engine.items()},
            "engine.driver_overhead_s": timed_wall - engine["executor_run_s"] / cpus,
            "failed_frac": out.failed / out.attempted,
            "trace.warm_pass_p50_s": values["warm_pass_p50_s"],
        }
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY,
        "jvm_opts": JVM_OPTS,
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        **versions,
        "setup_s": setup_s,
        "peak_rss_mb_python_jvm": rss,
        "session_start_s": session_s,
        "ops_cold_pass": out.cold_by_op,
        "host_steal_s_per_pass": out.steal_s,
        "ops_later_p50": op_p50,
        "samples": {
            "setup_s": 1,
            "peak_rss_mb": 1,
            "cold_pass_s": 1,
            "warm_pass_p50_s": len(out.passes_s),
            "op_geomean_s": sum(map(len, out.later_by_op.values())),
            "items_per_s": len(out.passes_s),
        },
        "items_per_pass": wl.items_per_pass,
        "raw_input_bytes": wl.raw_bytes,
        "failures": out.failures[:10],
    }
    return record, {"values": values, "attempted": out.attempted, "failed": out.failed}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(spec_path):
        print(f"{PACKAGE}/ or BENCHMARK.json missing under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        events = configure_env(run_dir, bool(args.trace), cpus)
        record, res = bench(WORKLOADS[args.workload](), args, run_dir, events, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUN_ROOT) and not os.listdir(RUN_ROOT):
            os.rmdir(RUN_ROOT)

    metrics = {
        m["name"]: {"value": res["values"][m["name"]], "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
