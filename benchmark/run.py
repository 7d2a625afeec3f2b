"""The repo benchmark: one workload, one seed, one JSON line.

    python3 benchmark/run.py --workload log_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The seeded generator (``gen.py``) writes
the inputs in its own process; the engine receives only the generated
directory. After timing, the outputs are checked against the registry's
DuckDB oracles on the same inputs (``gate.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``, measured with
tracing off; with ``--trace 1`` they are its per-layer metrics, from a run
with spans and counters on that also makes one rider pass (see
``workloads.py``). A full run record (host context, per-cycle input
ids and seeds, spans, counters, gate report) is written to
``.bench_work/records/``.

Everything the run reads or writes stays inside the checkout: inputs,
outputs, Spark scratch space and temporary files go to ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def host_context() -> dict:
    def loadavg():
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]

    others = subprocess.run(
        ["pgrep", "-f", "SparkSubmit"], capture_output=True, text=True
    ).stdout.split()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": loadavg(),
        "other_spark_jvms": others,
        "contended": bool(others),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def isolate(work: str, cpus: int) -> None:
    """Keep every file the run creates inside ``work``; size Spark from
    ``cpus``. Must run before the engine or PySpark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files: the JVM would write them under /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={work}/warehouse"
        f' --driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"'
        " pyspark-shell"
    )


def start_spark(workload: str):
    from collector_spark.session import get_spark

    return get_spark(app_name=f"bench-{workload}")


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """High-water resident memory of the Spark JVM plus this process."""
    jvm_kb = 0
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()  # closes py4j's connections before the JVM goes away
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its launcher's stdin closes
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="local[n]; default nproc")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "collector_spark", "registry.py")):
        print("run from the root of a checkout: collector_spark/ not found", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    host = host_context()
    cpus = args.cpus or host["nproc"]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-c{cpus}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    isolate(work, cpus)
    sys.path.insert(0, root)

    # set-up: the JVM starts first; the imports, the registry's loading and
    # the generator process run while it does
    pool = ThreadPoolExecutor(3)
    starting = pool.submit(start_spark, args.workload)

    import metrics  # noqa: E402  (after isolate: imports PySpark)
    from workloads import WORKLOADS, Ctx, instrument_dims  # noqa: E402

    from spans import Tracer  # noqa: E402

    import pyspark  # noqa: E402

    from collector_spark import registry  # noqa: E402

    if args.workload not in WORKLOADS:
        stop_spark(starting.result())
        pool.shutdown()
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    ctx = Ctx(spark=None, tracer=None, work=work, seed=args.seed,
              seconds=args.seconds, traced=bool(args.trace))
    pending = pool.submit(timed, wl.generate, ctx)
    loading = pool.submit(registry.load_all)
    spark = starting.result()
    pid = jvm_pid(spark)
    try:
        loading.result()
        gen, gen_s = pending.result()
        pool.shutdown()
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=ctx.traced)
        if ctx.traced:
            instrument_dims(ctx.tracer)
        wl.before_timing(ctx, gen)
        setup_s = time.perf_counter() - T_PROCESS
        result = wl.run(ctx, gen)
        rss = peak_rss_mb(pid)
        t_gate = time.perf_counter()
        gate = wl.gate(ctx, result)
        gate["gate_s"] = time.perf_counter() - t_gate
        record = metrics.summarize(spec, wl, ctx, gen, result, gate,
                                   setup_s=setup_s, gen_s=gen_s, peak_rss=rss)
        host["jdk"] = spark._jvm.System.getProperty("java.version")
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    host["stop_s"] = time.perf_counter() - t_stop
    host["total_s"] = time.perf_counter() - T_PROCESS
    with open("/proc/loadavg") as f:
        host["loadavg_end"] = f.read().split()[:3]
    host["pyspark"] = pyspark.__version__
    host["cpus"] = cpus

    record.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "host": host, "spans": ctx.tracer.records()})
    rec_dir = os.path.join(root, ".bench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
