"""Store benchmark: one workload, one seed, one closed-loop client.

    python3 storebench/run.py --workload ingest --seed 1 --seconds 18 --trace 0

Run from the root of a checkout: the store package is imported from the
directory above this one, and every file the run writes (stores, Spark
scratch, traces) lives under ``.storebench/`` there. The last line of
standard output is one JSON object; with ``--trace 0`` its metrics are
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run. Lines before it repeat each metric by name and unit, with
the sample count behind every timing, and the run's environment.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(CHECKOUT, ".storebench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, at most 4 GiB: the stores are tens
    of MB and the machine may be shared."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, phys // 4 // (1 << 30)))}g"


def start_spark(tmp: str):
    """A ``local[nproc]`` session whose scratch files stay under ``tmp``."""
    for sub in ("spark", "java", "py", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", driver_memory())
    # takes precedence over spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    from matdb_spark import get_spark

    return get_spark(
        app_name="storebench",
        cpus=nproc(),
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def environment(spark) -> dict:
    return {
        "nproc": nproc(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "spark": spark.version,
        "python": platform.python_version(),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload and return the result object."""
    sys.path.insert(0, CHECKOUT)
    import matdb_spark  # noqa: F401  (fails outside a checkout)

    import workloads

    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    spark = None
    try:
        spark = start_spark(tmp)
        env = environment(spark)
        session_s = time.perf_counter() - PROCESS_START
        stores = os.path.join(tmp, "stores")
        os.makedirs(stores)
        b = workloads.Bench(spark, stores, seed, seconds, trace)
        if trace:
            b.tracer.install()
        try:
            shape = workloads.WORKLOADS[workload](b)
        finally:
            if trace:
                b.tracer.uninstall()
        env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        print(f"# environment {json.dumps(env)}")
        print(f"# setup: session {session_s:.3f} s, store build {b.build_s:.3f} s, "
              f"warm-up {b.setup_end - PROCESS_START - session_s - b.build_s:.3f} s")
        if trace:
            metrics = workloads.per_layer(b, shape)
            out_dir = os.path.join(WORK, "traces")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"{workload}-seed{seed}.jsonl")
            b.tracer.dump(trace_path)
            print(f"# spans written to {os.path.relpath(trace_path, CHECKOUT)}")
            shown = {k: (v, u, {}) for k, (v, u) in metrics.items()}
        else:
            shown = workloads.end_to_end(b, shape, PROCESS_START)
        for name, (value, unit, notes) in shown.items():
            extra = "".join(f" {k}={v}" for k, v in notes.items())
            print(f"{name} {value:.6g} {unit}{extra}")
        print(f"# fail_ratio {b.failed / b.attempted:.6g} ({b.failed}/{b.attempted})")
        return {
            "correct": b.failed == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {
                name: {"value": value, "unit": unit}
                for name, (value, unit, _notes) in shown.items()
            },
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "lookup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
