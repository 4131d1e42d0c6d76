"""Benchmark entry point.

    python3 perfbench/run.py --workload {nightly_dag,txlog_dml_mix}
        --seed N --seconds S --trace {0,1} [--scale small|full]

Run from the root of a checkout. Each run gets its own working directory
under ``.perfbench_work/`` with its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS``
(every fixture cache and serving manifest in the package resolves under
``tempfile.gettempdir()``), a ``local[nproc]`` master and a 4 GB heap.

The run sets the workload up, times whole passes of it until ``--seconds``
have elapsed (at least one pass), checks the program's outputs outside the
timed region, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps each layer's public functions
(see ``tracer.py``), reports the per-layer metrics and writes the spans to
``.perfbench_work/spans/``. A failed output check exits 1; a checkout
without the package exits 2 without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "cdk_datalake_analytics_comercial_spark"
WORKLOADS = ("nightly_dag", "txlog_dml_mix")
HEAP = "4g"


def nproc() -> int:
    return max(1, len(os.sched_getaffinity(0)))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def dir_stats(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under ``path``, ignoring names starting with ``skip``."""
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(skip)]
        for f in filenames:
            if f.startswith(skip):
                continue
            try:
                size += os.lstat(os.path.join(dirpath, f)).st_size
                files += 1
            except OSError:
                pass
    return files, size


class Ops:
    """Per-operation outcomes of the timed region."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, kind: str, seconds: float, ok: bool = True, err: str = "") -> None:
        self.attempted += 1
        if ok:
            self.lat.setdefault(kind, []).append(seconds)
        else:
            self.failed += 1
            self.errors.append(err)

    def all(self) -> list[float]:
        return [x for xs in self.lat.values() for x in xs]


class Env:
    """What a workload gets: the session, its seed and scale, a private
    working directory and, in a traced run, the tracer."""

    def __init__(self, args, workdir: str):
        self.seed = args.seed
        self.workload = args.workload
        # names this run's spans and untraced-wall record files
        self.key = f"{args.workload}-s{args.seed}-{args.scale}"
        self.small = args.scale == "small"
        self.workdir = workdir
        self.nproc = nproc()
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = None


def _isolate(workdir: str) -> None:
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    tempfile.tempdir = None
    os.chdir(workdir)


def _start_spark(env: Env):
    from cdk_datalake_analytics_comercial_spark.core import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(env.workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={env.workdir}",
    }
    if env.trace:
        # the status store must still hold every stage when it is read at
        # the end; the defaults (1000) can evict a pass's stages first
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(
        "perfbench", master=f"local[{env.nproc}]",
        shuffle_partitions=env.nproc, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _load(name: str):
    sys.path.insert(0, HERE)
    if name == "nightly_dag":
        import nightly as mod
    else:
        import txlog_mix as mod
    return mod.Workload


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "full_stage.py")
    ):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(
        work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    _isolate(workdir)
    env = Env(args, workdir)
    Workload = _load(args.workload)
    wl = Workload(env)

    env.spark = _start_spark(env)
    spark = env.spark
    try:
        session_s = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if env.trace:
            from tracer import Tracer

            env.tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        print(f"setup: session {session_s:.2f}s, inputs {inputs_s:.2f}s, "
              f"prepare {prepare_s:.2f}s", file=sys.stderr)

        from tracer import jvm_pid, peak_rss_mb, proc_cpu

        jvm = jvm_pid(spark.sparkContext)
        cpu0 = proc_cpu(jvm)
        ops = Ops()
        walls = []
        t_start = time.perf_counter()
        # process start to the first timed operation, less the benchmark's
        # own input generator: the program's set-up time
        setup_s = t_start - T_PROCESS - inputs_s
        while True:
            t0 = time.perf_counter()
            wl.run_pass(ops, first=not walls)
            walls.append(time.perf_counter() - t0)
            if time.perf_counter() - t_start >= args.seconds:
                break
        timed_s = time.perf_counter() - t_start
        cpu1 = proc_cpu(jvm)
        if env.tracer is not None:
            env.tracer.restore()

        errors = list(ops.errors) + wl.check()
        lat = ops.all()
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(walls), "s"),
            "op_geomean_s": (geomean(lat), "s"),
            "store_mb": (wl.store_bytes() / 1e6, "MB"),
        }
        if env.trace:
            import layers

            metrics = layers.per_layer(
                env, wl, ops, walls, timed_s,
                jvm_cpu_s=cpu1[0] - cpu0[0],
                pyworker_cpu_s=max(0.0, cpu1[1] - cpu0[1]),
                jvm_peak_rss_mb=peak_rss_mb(jvm),
            )
            env.tracer.dump(
                os.path.join(work_root, "spans", f"{env.key}.json"),
                t_start,
            )
        else:
            # the traced run of the same seed reports its overhead against this
            os.makedirs(os.path.join(work_root, "untraced"), exist_ok=True)
            with open(os.path.join(work_root, "untraced", f"{env.key}.json"), "w") as f:
                json.dump({"wall_s": median(walls)}, f)
    finally:
        _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)

    for e in errors:
        print(f"perfbench check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
