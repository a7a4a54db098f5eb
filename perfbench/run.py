#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (``serve`` or ``pipeline``; README.md
says why each) against the engine in this checkout, on inputs made
from ``--seed``, measuring for ``--seconds``. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, which holds every end-to-end metric with ``--trace 0``
and every per-layer metric with ``--trace 1`` (perfbench/metrics.py).
The lines before it name the workload's own figures and record the
machine state (nproc, effective cores, contended).

Each run works in a private directory under ``.perfbench_tmp/`` in the
checkout (artifacts, Spark local dirs, warehouse, temp files and the
generated inputs) and removes it at the end. A traced run also writes
its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("serve", "pipeline")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size",
        choices=("full", "tiny"),
        default="full",
        help="input sizes; 'tiny' is for the benchmark's own smoke test",
    )
    return p.parse_args(argv)


def isolate(root: str) -> None:
    """Point every place the engine writes at ``root`` and put the
    checkout on the Python path of the driver and of Spark's Python
    workers (Arrow UDFs import the package there). Must run before
    pyspark launches the JVM."""
    for sub in ("ann", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_ANN_DIR"] = os.path.join(root, "ann")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    # HotSpot writes its perf-data file under /tmp whatever
    # java.io.tmpdir says; the launcher JVM reads its flags from here
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, CHECKOUT)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


class Machine:
    """bench.py's contention probes around the run: metadata next to
    the metrics, never a metric or a gate."""

    def __init__(self):
        import bench

        self.bench = bench
        self.loadavg_start = bench._loadavg()
        self.cal = [bench._calibration_loop()]
        self.par_start = bench._parallel_calibration()

    def record(self) -> dict:
        b = self.bench
        self.cal.append(b._calibration_loop())
        par_end = b._parallel_calibration()
        ncpu = os.cpu_count() or 1
        spread = max(self.cal) / min(self.cal) if min(self.cal) > 0 else None
        eff = min(self.par_start["effective_cores"], par_end["effective_cores"])
        contended = bool(
            (spread is not None and spread > 1.35)
            or (self.loadavg_start and self.loadavg_start[0] > max(2.0, ncpu / 8))
            or eff < 0.6 * ncpu
        )
        return {
            "nproc": ncpu,
            "effective_cores": eff,
            "contended": contended,
            "loadavg_start": self.loadavg_start,
            "loadavg_end": b._loadavg(),
            "calibration_spread": spread,
        }


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_ms_per_op", "ms"), ("_mb", "MB"), ("_per_s", "1/s"), ("_qps", "req/s"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "ratio" if "recall" in name else "count"


def measure(args, root: str) -> tuple[dict, dict, dict]:
    """Run the workload in this process. Returns (outcome, metric
    values, workload figures)."""
    import numpy as np

    from perfbench.tracer import NullTracer, Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Run

    # set-up counts the engine's import, not the benchmark's own
    t0 = time.perf_counter()
    from cnc_visionsearch_spark.session import get_session

    import_s = time.perf_counter() - t0
    machine = Machine()

    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
        # keeps the JIT compiler threads alive, so their CPU can be read
        " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        run = Run(
            spark=spark,
            tracer=tracer,
            root=root,
            rng=np.random.default_rng(args.seed),
            seconds=args.seconds,
            sizes=SIZES[args.size],
            setup_s=import_s + session_s,
        )
        res = WORKLOADS[args.workload](run)
        if args.trace:
            from perfbench.layers import per_layer

            tracer.finish()
            cores = spark.sparkContext.defaultParallelism
            values = per_layer(tracer, res, session_s, cores)
            out_dir = os.path.join(CHECKOUT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = {}
        from pyspark import SparkContext

        rss = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)
    if args.trace:
        values["process.peak_rss_mb"] = rss
        values.update({f"trace.{k}": v for k, v in res["wall"].items()})
    else:
        values = dict(res["e2e"], setup_s=run.setup_s)
    figures = dict(res["summary"], setup_s=run.setup_s, peak_rss_mb=rss)
    figures["machine"] = machine.record()
    outcome = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed}
    return outcome, values, figures


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.join(CHECKOUT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(root)
    try:
        outcome, values, figures = measure(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass  # another run still uses it
    from perfbench.metrics import UNITS

    metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()}
    machine = figures.pop("machine")
    print(f"perfbench machine {json.dumps(machine, sort_keys=True)}")
    for k, v in figures.items():
        print(f"perfbench {args.workload} {k} = {v:.6g} {unit_of(k)}")
    print(json.dumps({**outcome, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
