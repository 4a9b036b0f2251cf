"""Repository benchmark: EP1 rates ETL writes and streaming ingest.

    python3 perfbench/run.py --workload rates_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run starts its own Spark session on
``local[1]`` with a single client thread, warms up, measures a
fixed number of operations that takes about ``--seconds`` on a calm
host, and checks every output. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it repeat the numbers under their workload-specific names
with the host-health probes and pinned settings; the full record,
spans included, goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAKE = os.path.join(HERE, "lake")
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

from instruments import PeakRss, Tracer, cpu_ticks, descendants, host_probe, self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The metric names the JSON result carries, in BENCHMARK.json order.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "space_amp": "ratio",
}
SPARK_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_s_per_op": "s",
    "spark.run_s_per_op": "s",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.shuffle_read_mb_per_op": "MB",
    "spark.input_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    **SPARK_LAYER,
    "trace.overhead_s": "s",
    "rates_pipeline.prepare_share": "ratio",
    "warehouse.append_historical_share": "ratio",
    "warehouse.upsert_current_share": "ratio",
    "warehouse.summary_share": "ratio",
    "warehouse.files_written_per_run": "count",
    "warehouse.bytes_written_mb_per_run": "MB",
    "warehouse.files_on_disk": "count",
    "warehouse.snapshot_versions": "count",
    "warehouse.snapshot_rows": "count",
    "warehouse.rewritten_per_changed_row": "ratio",
    "queries.build_share": "ratio",
    "queries.build_jobs": "count",
    "queries.fetch_rows": "count",
    "streaming.epochs": "count",
    "streaming.add_batch_share": "ratio",
    "streaming.query_planning_share": "ratio",
    "streaming.wal_commit_share": "ratio",
    "streaming.commit_offsets_share": "ratio",
    "streaming.source_share": "ratio",
    "streaming.state_commit_share": "ratio",
    "streaming.jobs_per_epoch": "count",
    "streaming.input_rows_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.drive_overhead_share": "ratio",
}

DRIVER_MEMORY = "4g"
# One task slot. With a slot per vCPU, the tasks, the driver and the
# JVM's own threads contend for the vCPUs, and a DAG run's CPU time rose
# 22% when two busy processes shared the VM; with one slot it did not
# move. The ops here are driver-bound, so wall time grows little.
CPUS = 1


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


def pin_environment(work: str) -> dict:
    """Pin every setting the numbers depend on and confine the run's
    files to ``work``. Returns the settings for the record."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
        # The session factory owns spark.driver.extraJavaOptions; these
        # reach the JVM without replacing it. Compiler threads that never
        # exit keep their CPU readable, so op_cpu_s can leave it out.
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
        ),
    }
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = tmp
    os.chdir(work)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, then any process left
    below this one, and wait for all of them to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        sig = signal.SIGTERM if time.monotonic() < deadline - 10 else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(pid, os.WNOHANG)  # reap direct children
            except ChildProcessError:
                pass
        time.sleep(0.2)


def run(args, age0: float, t_start: float) -> dict:
    tracer = Tracer(bool(args.trace))
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace}
    spark = None
    with PeakRss() as rss:
        try:
            from currency_etl_pipeline_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, LAKE, os.getcwd(), args.seed, tracer)
            t1 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t1
            setup_s = age0 + time.perf_counter() - t_start
            probes = [host_probe(spark, LAKE)]
            steal0, total0 = cpu_ticks()
            wl.measure(args.seconds)
            steal1, total1 = cpu_ticks()
            probes.append(host_probe(spark, LAKE))
            e2e = wl.end_to_end()
            layer = wl.per_layer() if tracer.enabled else {}
        finally:
            stop_spark(spark)
    e2e = {"setup_s": (setup_s, "s"), **e2e}
    layer_metrics = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        **wl.spark_per_op(),
        "trace.overhead_s": (wl.overhead_s(), "s"),
        **layer,
    }
    record.update(
        {
            "attempted": wl.attempted,
            "failed": len(wl.failures),
            "failures": wl.failures,
            "host_probe_s": {"before": probes[0], "after": probes[1]},
            "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "op_latencies_s": wl.op_latencies(),
            "op_cpu_s": wl.op_cpu_samples(),
            "named": {
                "setup_s": [setup_s, "s"],
                "peak_rss_mb": [rss.peak_mb, "MB"],
                **{k: list(v) for k, v in wl.report(e2e).items()},
            },
            "per_layer": {k: v[0] for k, v in layer_metrics.items()} if tracer.enabled else {},
            "layer_seconds_per_op": wl.layer_seconds,
            "self_seconds": self_times(tracer.spans) if tracer.enabled else {},
            "jobs_by_span": wl.jobs_by_span,
            "spans": tracer.spans,
        }
    )
    wanted = PER_LAYER if tracer.enabled else END_TO_END
    source = {k: v[0] for k, v in (layer_metrics if tracer.enabled else e2e).items()}
    record["metrics"] = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
    return record


def main(argv=None) -> int:
    t_start = time.perf_counter()
    age0 = process_age()
    # A terminated run still stops its JVM and deletes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "currency_etl_pipeline_spark", "__init__.py")):
        print(f"perfbench: the package is not beside {HERE}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    cwd = os.getcwd()
    try:
        env = pin_environment(work)
        record = run(args, age0, t_start)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    record["environment"] = {**env, "cpus": int(env["SPARK_GRAFT_CPUS"])}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"settings {json.dumps({k: env[k] for k in ('SPARK_GRAFT_CPUS', 'SPARK_DRIVER_MEMORY', 'TZ')})}")
    print(f"host_probe_s before={record['host_probe_s']['before']:.4f} "
          f"after={record['host_probe_s']['after']:.4f} steal_share={record['host_steal_share']:.4f}")
    for k, v in record["named"].items():
        if len(v) > 2:
            value = "n/a" if v[0] is None else f"{v[0]:.6g}"
            print(f"metric {k} {value} {v[1]} (p{v[2]}, n={v[3]})")
        else:
            print(f"metric {k} {v[0]:.6g} {v[1]}")
    print(f"metric failed_share {record['failed'] / max(record['attempted'], 1):.6g} ratio")
    for k, v in record["layer_seconds_per_op"].items():
        print(f"layer {k} {v:.6g} s")
    for f_ in record["failures"]:
        print(f"FAILED {f_['op']}: {f_['detail'].splitlines()[-1][:300]}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
