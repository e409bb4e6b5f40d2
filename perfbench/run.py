"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs come from ``gen.py`` (cached per
workload and seed under ``.perfbench/inputs``); a traced run's spans go
to ``.perfbench/traces``, and every other file a run writes goes under
``.perfbench/run-<pid>`` and is removed at exit. A traced run first
makes the untraced run of the same workload and seed in a child
process, whose operation time ``trace.overhead_frac`` is measured
against. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it describe the run (machine, versions, per-workload
detail). See README.md in this directory for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# At most this many task slots. The program also runs Python worker
# processes and JVM compiler/GC threads; leaving cores for them keeps
# runs steadier than saturating every core.
MAX_CORES = 2


def parse_args(argv=None):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def boot_spark(work: str, cores: int, trace: bool):
    """One local[N] Spark session whose temporary files stay inside ``work``."""
    from cig_etl_s3_to_sql_data_ingestor_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')} "
        f"-Dderby.system.home={work}"
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # Executor counters in the status store are otherwise refreshed
        # at most every 100 ms, which would smear them across spans.
        conf["spark.ui.liveUpdate.period"] = "0"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin
    closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
        proc.kill()
        proc.wait(timeout=30)


def environment(args, cores: int) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": cores,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def untraced_op_s(args) -> float:
    """Operation time (s) of the untraced run of the same workload, seed
    and window, made in a child process: a cold start like the traced
    run's, on the same code."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=150, check=True).stdout.splitlines()
    detail = next(json.loads(x[len("detail "):]) for x in out if x.startswith("detail "))
    if not json.loads(out[-1])["correct"]:
        raise RuntimeError("the untraced run failed its output checks")
    return detail["op_p50_ms"] / 1000.0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    import gen
    import workloads

    state = os.path.join(ROOT, ".perfbench")
    inputs = gen.generate(args.workload, args.seed, os.path.join(state, "inputs"))
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    env = environment(args, cores)
    print("env " + json.dumps(env), flush=True)

    spark = None
    try:
        baseline = untraced_op_s(args) if args.trace else None
        t0 = time.perf_counter()
        spark = boot_spark(work, cores, bool(args.trace))
        spark.range(1).collect()
        boot_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, inputs, work)
        res = wl.run(args.seconds, baseline)
        setup_s = boot_s + res.warm_s + statistics.median(res.prep_s)
        # Peak RSS (MB) is recorded here, not gated: across seeds its
        # interquartile spread is about 20% (JVM heap growth follows GC
        # timing), too wide to bound a regression.
        detail = dict(res.detail, boot_s=round(boot_s, 3), warm_s=round(res.warm_s, 3),
                      prep_s=[round(x, 3) for x in res.prep_s], op_p50_ms=res.op_p50_ms,
                      peak_rss_mb=round(peak_rss_mb(spark), 1))
        print("detail " + json.dumps(detail), flush=True)
        if args.trace:
            metrics = res.layer_metrics
            trace_dir = os.path.join(state, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.json")
            with open(path, "w") as f:
                json.dump({"env": env, "detail": detail, "spans": res.spans}, f)
            print(f"trace {path}", flush=True)
        else:
            metrics = {
                "items_per_s": (res.items_per_s, "1/s"),
                "followup_s": (res.followup_s, "s"),
                "setup_s": (setup_s, "s"),
            }
        out = {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
