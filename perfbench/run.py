"""Benchmark of the analyst_spark engine on one long-lived local Spark
session.

    python3 perfbench/run.py --workload aql_server --seed 1 --seconds 30 --trace 0

Run from the repository root. One run:

1. sets up once: process start, session up and the workload's warm-up
   ops done (``setup_s``);
2. times ``bench._calibration_probe`` (host-drift diagnostic);
3. runs seeded passes over the op mix until ``--seconds`` have passed;
4. times the calibration probe again and verifies every recorded
   output against DuckDB twins over the same parquet files.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` its per-layer metrics, taken
from spans around the program's public functions and from the Spark
event log. All samples of a run go to ``.perfbench_runs/<run>.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
# Pinned, never read from nproc: at local[2] the /run throughput equals
# local[4]'s on a 4-core host with a tighter spread, and the other
# cores stay free for JIT, GC, the Python workers and other tenants.
CPUS = "2"
DRIVER_MEMORY = "4g"
WORKLOADS = {"aql_server": workloads.AqlServer,
             "lifecycle": workloads.Lifecycle}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def configure_env(run_dir: str, trace: bool,
                  jvm_opts: tuple[str, ...]) -> None:
    """Everything the session writes stays in the run directory; the
    repository root is on PYTHONPATH so Python workers can import
    analyst_spark."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    java_opts = shlex.join([f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                            *jvm_opts])
    submit = [
        # get_spark asks for a 32g driver heap; on a shared host the JVM
        # would grow toward it
        "--driver-memory", DRIVER_MEMORY,
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=java_opts,  # the JVM that builds the submit command
        PYTHONPATH=ROOT + (os.pathsep + old_path if old_path else ""),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit) + " pyspark-shell",
    )
    for k in ("SPARK_GRAFT_UI", "SPARK_GRAFT_ON_CLUSTER"):
        os.environ.pop(k, None)


def prefetch(sf_dir: str) -> None:
    """Pull the input parquet into the page cache before timing."""
    for fn in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, fn), "rb") as f:
            while f.read(1 << 24):
                pass


def shutdown() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def run(args, run_dir: str, detail: dict) -> tuple[int, int, dict]:
    sys.path.insert(0, ROOT)
    import bench
    import analyst_spark.session as session
    from pyspark import SparkContext

    import spans

    tracer = spans.Tracer(bool(args.trace))
    if tracer.enabled:
        spans.install(tracer)
    rng = random.Random(args.seed)
    params = workloads.draw_params(rng)
    detail["params"] = params
    prefetch(SF_DIR)

    if args.workload == "aql_server":
        wl = workloads.AqlServer(run_dir, SF_DIR, params, tracer)
    else:
        wl = workloads.Lifecycle(SF_DIR, tracer)
    spark = session.get_spark("perfbench")
    jvm_pid = SparkContext._gateway.proc.pid
    problems: list[str] = []
    attempted = 1 + len(wl.WARM_OPS)
    warm_s = []
    try:
        t = time.time()
        wl.start(spark)
        for op in wl.WARM_OPS:
            warm_s.append(time.time() - t)
            t = time.time()
            wl.run_op(op)
        warm_s.append(time.time() - t)
    except Exception as e:  # counted as a failed op; the run goes on
        problems.append(f"warm-up: {type(e).__name__}: {e}")
    setup_s = time.time() - PROCESS_START
    phases = {"setup": time.time()}

    def cal_probe() -> float:
        t = time.time()
        bench.force(bench._calibration_probe(spark))
        return time.time() - t

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    cal_probe()  # compile the probe's plan once, untimed
    cal = [cal_probe()]

    phases["probe"] = time.time()
    tracer.phase = "window"
    passes, latencies, persisted_after_op, orders, pass_cpu = [], [], [], [], []
    window_start = time.time()
    # The seed picks the op order; passes alternate it with its reverse,
    # so each op follows each other op equally often in a run.
    order = list(wl.OPS)
    rng.shuffle(order)
    while not passes or time.time() - window_start < args.seconds:
        orders.append(order)
        cpu0 = spans.cpu_sample(jvm_pid) if tracer.enabled else None
        pass_start = time.time()
        with tracer.span("pass"):
            for op in order:
                attempted += 1
                tracer.op = attempted
                op_start = time.time()
                try:
                    with tracer.span("op", kind=op):
                        wl.run_op(op)
                except Exception as e:  # counted as a failed op
                    problems.append(f"{op}: {type(e).__name__}: {e}")
                latencies.append(time.time() - op_start)
                persisted_after_op.append(persisted())
        passes.append(time.time() - pass_start)
        order = order[::-1]
        if tracer.enabled:
            cpu1 = spans.cpu_sample(jvm_pid)
            pass_cpu.append({k: cpu1[k] - cpu0[k] for k in cpu1})
    tracer.op = None
    tracer.phase = "end"
    phases["window"] = time.time()
    cal.append(cal_probe())
    rss = spans.rss_mb(jvm_pid)
    problems += wl.verify(workloads.Oracle(SF_DIR, os.path.join(ROOT, "tools")))
    phases["verify"] = time.time()
    detail.update(
        setup_s=setup_s, warm_op_s=warm_s, pass_s=passes, op_s=latencies,
        orders=orders,
        persisted_after_op=persisted_after_op,
        persisted_after_pass=persisted_after_op[len(wl.OPS) - 1::len(wl.OPS)],
        cal_probe_s=cal, jvm_rss_mb=rss, problems=problems,
        phase_end_s={k: v - PROCESS_START for k, v in phases.items()})

    if not tracer.enabled:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(passes),
            "job_p50_s": statistics.median(latencies),
        }
    else:
        shutdown()  # the event log is complete once the context stops
        jobs = spans.read_event_logs(os.path.join(run_dir, "events"))
        spans.attach_jobs(tracer.spans, jobs)
        entries = workloads.Lifecycle.OPS
        metrics = spans.layer_metrics(tracer, entries, pass_cpu)
        metrics.update({
            "persisted_rdds_after_pass": persisted_after_op[-1],
            "jvm.rss_mb": rss,
            "host.cal_probe_s": statistics.median(cal),
        })
        detail["spans"] = tracer.spans
    detail["metrics"] = metrics
    return attempted, min(len(problems), attempted), metrics


def main() -> int:
    args = parse_args()
    runs = os.path.join(ROOT, ".perfbench_runs")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(runs, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    configure_env(run_dir, bool(args.trace), WORKLOADS[args.workload].JVM_OPTS)
    specs = metric_specs(bool(args.trace))
    detail: dict = {"args": vars(args)}
    try:
        attempted, failed, metrics = run(args, run_dir, detail)
    finally:
        shutdown()
        with open(os.path.join(runs, name + ".json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in detail["problems"]:
        print(f"FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in specs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
