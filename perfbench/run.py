"""The engine's benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload plan_bound --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run makes its tables from a fixed table
seed and its query order / key streams / batches from ``--seed``, sets up a
``get_spark()`` session on every core, warms up with a fixed amount of work,
times ops for ``--seconds``, then checks every output (DuckDB oracle for
registry queries, a model of the table for the feature-group data plane).

Standard output: a ``perfbench-report`` line with the provenance header,
warm-up evidence, tail percentiles and sample counts (and, with
``--trace 1``, the per-layer breakdown), then, as the last line, the result
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--out FILE`` also writes the full report (spans included) for
``perfbench/compare.py``.

Each run works in one throwaway directory under ``.perfbench_runs/`` that
holds TMPDIR, the engine's artifact cache, Spark's local dirs, the working
directory (Derby, warehouse) and the feature store; it is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_FILES = ("__spark_entry__.py", "raise_featurestore_spark/__init__.py",
                "scripts/driver_sim.py")

# Workload definitions. ``sf`` is the table scale factor; warm-up is a fixed
# amount of work so every run is timed at the same point of the JVM's
# warm-up slope (see NOTES.md).
WORKLOADS = {
    "plan_bound": {"kind": "registry", "sf": 0.01, "stride": 12, "warm_passes": 1,
                   "min_passes": 3},
    "exec_bound": {"kind": "registry", "sf": 0.1, "warm_passes": 1, "min_passes": 2},
    "serve_rw": {"kind": "serve", "sf": 0.1, "warm_cycles": 2, "min_cycles": 4},
}

END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms"),
              ("op_tail_ms", "ms"), ("ops_per_s", "1/s"))

# Per-layer metrics of the final line: the layers every workload exercises.
# Layers only some workloads reach (tables.load, catalog, io.writer,
# live_table, io.cache) are in the report line's ``layers_by_kind``.
PER_LAYER = (
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("codegen.compiles", "count"),
    ("codegen.compile_ms", "ms"), ("jvm.jit_ms", "ms"), ("jvm.gc_ms", "ms"),
    ("jvm.gc_count", "count"), ("exec.action_ms", "ms"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.task_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("plan.exchanges", "count"), ("plan.smj", "count"),
    ("plan.bhj", "count"), ("plan.scans", "count"), ("plan.python_evals", "count"),
    ("result.rows", "count"), ("tables.load_calls", "count"),
    ("scan.rows_per_result_row", "ratio"), ("trace.overhead_pct", "%"),
)


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _tree(sub: str) -> list[str]:
    out = []
    for d, _, files in os.walk(os.path.join(ROOT, sub)):
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None if r.returncode == 0 else None


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: str) -> None:
    """Point every place the engine and Spark write to into ``run_dir``."""
    for sub in ("tmp", "cache", "spark-local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CACHE"] = os.path.join(run_dir, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # the JVM's own temp files (Spark's artifact dirs) go to the run's tmp
    # too; HotSpot's perf-data file would go to /tmp, so it is turned off
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "pyspark-shell"])
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.chdir(os.path.join(run_dir, "cwd"))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, cfg: dict):
    from perfbench import workloads as wl

    if cfg["kind"] == "serve":
        return wl.ServeWorkload(cfg["sf"], cfg["warm_cycles"], cfg["min_cycles"])
    if name == "exec_bound":
        queries = list(wl.EXEC_BOUND_QUERIES)
    else:
        from raise_featurestore_spark.queries import QUERIES

        queries = wl.plan_bound_queries(list(QUERIES), cfg["stride"])
    return wl.RegistryWorkload(name, queries, cfg["sf"], cfg["warm_passes"],
                               cfg["min_passes"])


def layer_metrics(tracer, workload, kind: str) -> tuple[dict, dict]:
    """The final line's per-layer values, and every layer value by op kind."""
    from perfbench.trace import summarize

    layers = summarize(tracer.ops, per_pass=kind == "registry")
    timed = [op for op in tracer.ops if op["timed"]]
    # mean per timed op of each query (registry) or op kind (serve)
    by_kind = {name: summarize([op for op in timed if op["name"] == name], per_pass=False)
               for name in sorted({op["name"] for op in timed})}
    scanned = sum(op["layers"].get("record_lookup.rows_scanned", 0.0) for op in timed)
    rows = sum(op["layers"].get("result.rows", 0.0) for op in timed)
    layers["scan.rows_per_result_row"] = scanned / rows if scanned and rows else 0.0
    op_s = sum(op["build_s"] + op["action_s"] for op in timed)
    layers["trace.overhead_pct"] = 100.0 * tracer.overhead_s / op_s if op_s else 0.0
    setup_ops = [op for op in tracer.ops if not op["timed"]]
    by_kind["setup"] = {"io.cache.prime_ms": sum(op["layers"].get("io.cache.prime_ms", 0.0)
                                                  for op in setup_ops)}
    if hasattr(workload, "io_stats"):
        by_kind["io"] = workload.io_stats
    return layers, by_kind


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full report (spans included) here")
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources not found next to {BENCH_DIR}: {missing}",
              file=sys.stderr)
        return 2
    out_path = os.path.abspath(args.out) if args.out else None
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    cfg = WORKLOADS[args.workload]
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"run-{os.getpid()}-{time.time_ns()}")
    isolate(run_dir)
    spark = None
    try:
        from perfbench import stats
        from perfbench.trace import NullTracer, Tracer

        workload = make_workload(args.workload, cfg)
        workload.inputs(run_dir)
        from raise_featurestore_spark.session import get_spark

        spark = get_spark("perfbench")
        tracer = Tracer(spark) if args.trace else NullTracer()
        tracer.install()
        ledger = stats.Ledger()
        marks = {}

        def on_first_timed_op() -> None:
            marks["setup_s"] = time.perf_counter() - T_PROCESS
            tracer.timed = True

        try:
            if cfg["kind"] == "serve":
                workload.build_store(spark, tracer)
            res = workload.run(spark, tracer, args.seed, args.seconds, ledger,
                               on_first_timed_op)
        except Exception:
            for err in ledger.errors:
                print(f"perfbench: failed op: {err}", file=sys.stderr)
            raise
        if args.trace:
            tracer.uninstall()
        checks = workload.check(ledger) if hasattr(workload, "check") else {}
        for err in ledger.errors:
            print(f"perfbench: failed op: {err}", file=sys.stderr)
        e2e = {"setup_s": (marks["setup_s"], "s"), **res["metrics"]}
        header = {
            "workload": args.workload, "cpus": _cpus(), "sf": cfg["sf"], "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "queries": getattr(workload, "queries", None),
            "commit": _commit(),
            "source_digest": _digest(_tree("raise_featurestore_spark")
                                     + [os.path.join(ROOT, "__spark_entry__.py")]),
            "bench_digest": _digest(_tree("perfbench")),
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "tail_p": {k: t["p"] for k, t in res["tails"].items()},
            "tail_n": {k: t["n"] for k, t in res["tails"].items()},
        }
        report = {"header": header,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                  **{k: v for k, v in res.items() if k != "metrics"},
                  "checks": checks, "errors": ledger.errors}
        if args.trace:
            layers, by_kind = layer_metrics(tracer, workload, cfg["kind"])
            report["layers"] = layers
            report["layers_by_kind"] = by_kind
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": float(e2e[n][0]), "unit": u} for n, u in END_TO_END}
        if out_path:
            full = dict(report, trace=tracer.report())
            with open(out_path, "w") as fh:
                json.dump(full, fh, indent=1, default=str)
        print("perfbench-report " + json.dumps(report, default=str))
        print(json.dumps({"correct": ledger.correct, "attempted": ledger.attempted,
                          "failed": ledger.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
