"""Benchmark of python_vectordbapp_ceph_spark: one command, seeded
workloads, correctness checked on every run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root. Every file it writes lives under
``.bench_work/`` there and is removed at exit. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The lines before it name every measured
quantity with its unit and sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(HERE, "..", "BENCHMARK.json")


def load_spec() -> dict:
    """Workloads and metric names with their units, from BENCHMARK.json:
    the end-to-end metrics every untraced run reports, and the
    per-layer metrics every traced run reports (0 for a layer the
    workload does not exercise; README.md says which end-to-end metric
    each should move)."""
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


class Run:
    """State shared by a workload and the harness: the session, the
    scratch directory, the tracer, timings and check outcomes."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.traced = bool(args.trace)
        self.work = work
        self.setup_steps: dict[str, float] = {}
        self.setup_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.end_to_end: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
        self.report: list[tuple[str, float, str, int]] = []
        self.tracer = None
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a failure fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    @contextmanager
    def setup_step(self, name: str):
        """Time one set-up step. Only calls into the package go in a
        step: input generation and correctness oracles stay outside, so
        ``setup_s`` is the program's set-up time alone."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_steps[name] = (self.setup_steps.get(name, 0.0)
                                      + time.perf_counter() - t)

    def setup_done(self) -> None:
        self.setup_s = sum(self.setup_steps.values())
        for name, secs in self.setup_steps.items():
            self.note(f"setup.{name}_s", secs, "s")

    def note(self, name: str, value: float, unit: str, n: int = 1) -> None:
        """A human-readable measurement line (not part of the result)."""
        self.report.append((name, float(value), unit, int(n)))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def start_session(run: Run):
    from python_vectordbapp_ceph_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.local.dir": run.path("local"),
        # an idle stream posts no progress: lastProgress stays the last
        # committed micro-batch
        "spark.sql.streaming.noDataProgressEventInterval": "600000",
    }
    if run.traced:
        # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    with run.setup_step("session"):
        spark = get_spark(app_name="perfbench", master="local[4]",
                          shuffle_partitions=4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if run.traced:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    run.per_layer["session.start_s"] = run.setup_steps["session"]
    run.spark = spark
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway  # noqa: SLF001
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-memory 2g --driver-java-options "
        f"{shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "python_vectordbapp_ceph_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (package "
              "python_vectordbapp_ceph_spark not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    import importlib

    mod = importlib.import_module(f"wl_{args.workload}")
    run = Run(args, work)
    spark = None
    try:
        if run.traced:
            from spans import Tracer

            run.tracer = Tracer()
        spark = start_session(run)
        mod.run(run)
    except Exception as exc:  # a crashed workload is a failed run
        import traceback

        traceback.print_exc()
        run.check(False, f"workload raised {type(exc).__name__}: {exc}")
    finally:
        if spark is not None:
            stop_session(spark)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(root, ".bench_work",
                                         f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    for name, value, unit, n in run.report:
        print(f"{args.workload}: {name} = {value:.6g} {unit} (n={n})")
    if run.traced:
        for name in sorted(run.per_layer):
            print(f"{args.workload}: {name} = {run.per_layer[name]:.6g} "
                  f"{spec['per_layer'].get(name, '')} (traced)")
    ratio = run.failed / max(run.attempted, 1)
    print(f"{args.workload}: ops_failed_ratio = {ratio:.6g} ratio "
          f"(n={run.attempted})")
    for f in run.failures:
        print(f"{args.workload}: FAILED CHECK: {f}")
    correct = run.failed == 0 and run.attempted > 0
    if correct and run.traced:
        metrics = {k: {"value": float(run.per_layer.get(k, 0.0)), "unit": u}
                   for k, u in spec["per_layer"].items()}
    elif correct:
        missing = [m for m in spec["end_to_end"] if m not in run.end_to_end]
        if missing:
            print(f"{args.workload}: missing metrics {missing}", file=sys.stderr)
            correct = False
        metrics = {m: {"value": run.end_to_end[m], "unit": u}
                   for m, u in spec["end_to_end"].items() if m in run.end_to_end}
    else:
        metrics = {}
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed if run.attempted else 1,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
