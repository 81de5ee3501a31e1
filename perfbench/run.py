"""One seeded benchmark run of one workload.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds its inputs from ``--seed`` in a
fresh work directory under ``.perfbench_work/``, starts a local Spark
session with one executor thread per CPU, sets up and warms the workload,
measures it for ``--seconds``, checks every output, and prints one JSON
line last on stdout: ``correct``, ``attempted``, ``failed`` and the
metrics — the end-to-end ones with ``--trace 0``, the per-layer ones
with ``--trace 1``. The traced run also writes its spans to
``.perfbench_out/``. The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["elt_daily", "analytics_sf005", "store_serving"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    p.add_argument("--corrupt-shadow", action="store_true",
                   help="store_serving only: plant a wrong shadow-model value")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit: the
    workers import the engine and this package, so the repository root
    goes on their PYTHONPATH; scratch space stays inside the work dir."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_spark(work: str):
    from datapipelinerepo_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no /tmp/hsperfdata file: the run writes only inside its checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, spark, tracer, work: str, seed: int, smoke: bool):
    if name == "elt_daily":
        from perfbench.elt import EltDaily as W
    elif name == "analytics_sf005":
        from perfbench.analytics import Analytics as W
    else:
        from perfbench.serving import StoreServing as W
    return W(spark, tracer, work, seed, smoke)


def end_to_end(res, setup_s: float, work: str) -> dict[str, float]:
    from perfbench.common import dir_bytes, median, percentile

    data_bytes = dir_bytes(work) - sum(
        dir_bytes(os.path.join(work, d)) for d in ("spark-local", "tmp")
    )
    return {
        "setup_s": setup_s,
        "round_s": median(res.rounds_s),
        "op_p90_ms": 1000 * percentile(res.ops_s, 90),
        "rows_per_s": res.rows / res.timed_s,
        "disk_mb": data_bytes / 1e6,
    }


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "datapipelinerepo_spark", "__init__.py")):
        print(f"perfbench: no datapipelinerepo_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.corrupt_shadow and args.workload != "store_serving":
        print("perfbench: --corrupt-shadow applies to store_serving only", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.abspath(os.path.join(
        ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(work)
    configure_env(work)
    spark = None
    try:
        from perfbench.common import Result, vm_hwm_mb
        from perfbench.metrics import END_TO_END, per_layer_printed
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        spark = start_spark(work)
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = make_workload(args.workload, spark, tracer, work, args.seed, args.smoke)
        res = Result()
        wl.prepare()
        if args.corrupt_shadow:
            wl.corrupt_shadow()
        wl.patch()
        t0 = time.perf_counter()
        warm = Result()  # warm-up ops are checked but not measured
        wl.warmup(warm)
        warmup_s = time.perf_counter() - t0
        res.attempted, res.failed, res.errors = warm.attempted, warm.failed, warm.errors
        t_start = time.perf_counter()
        setup_s = t_start - t_main
        wl.run(res, args.seconds, t_start)
        wl.check(res)
        e2e = end_to_end(res, setup_s, work)
        if args.trace:
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            tracer.finish()
            wl.layer_metrics(res, t_start)
            n_ops = len(tracer.jobs)
            res.layer.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid),
                "trace.round_s": e2e["round_s"],
                "trace.op_p90_ms": e2e["op_p90_ms"],
                "trace.spans_per_op": len(tracer.spans) / n_ops if n_ops else 0.0,
            })
            report_layers(tracer, res, t_start, args)
            values, spec = res.layer, per_layer_printed(args.workload)
        else:
            values, spec = e2e, END_TO_END
        for msg in res.errors:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        out = {
            "correct": res.failed == 0,
            "attempted": max(res.attempted, 1),
            "failed": res.failed,
            "metrics": {
                name: {"value": float(values.get(name, 0.0)), "unit": spec[name][0]}
                for name in spec
            },
        }
        print(json.dumps(out), flush=True)
        return 0 if res.failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def report_layers(tracer, res, t_start: float, args) -> None:
    """Human-readable per-layer report on stderr, and the spans as JSON
    under .perfbench_out/."""
    self_s = tracer.layer_self_s(since=t_start)
    print(f"perfbench: traced {args.workload} seed {args.seed}: self time by layer "
          f"over {res.timed_s:.2f} s timed", file=sys.stderr)
    for layer, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<12} {s:9.3f} s  {100 * s / res.timed_s:5.1f}%", file=sys.stderr)
    os.makedirs(".perfbench_out", exist_ok=True)
    tracer.dump(os.path.join(".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))


if __name__ == "__main__":
    sys.exit(main())
