"""Benchmark of the CometBFT log ETL package.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. One single-threaded, closed-loop client
(this process) drives the package through its public entry points on a
local Spark session. Inputs come from ``--seed`` only. Artifacts (the
generated corpus, lakes, spans, the result) go under ``--out``
(default ``.perfbench`` in the working directory), never into tracked
files.

``--trace 0`` (timed run): set up, then run passes of the workload
until ``--seconds`` have passed (at least one), checking each pass's
outputs outside its timer. Prints every end-to-end metric.

``--trace 1`` (traced run): set up, one pass with a span around each
call into a layer, then the per-layer probes. Prints every per-layer
metric; layers the workload does not exercise read 0. NOTES.md defines
each metric.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Pinned run environment (recorded in NOTES.md).
DRIVER_MEM = "2g"  # below physical RAM; get_spark's default is 16g
AQE = "true"  # the package default, pinned so a shell setting cannot leak in
TAIL_PCT = 90  # op_tail_s percentile
LAYERS = ("sources", "operators", "pipeline", "plans", "streaming", "queries")


def pin_environment(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_AQE": AQE,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}\" "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


class Context:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, work: str):
        from probes import Tracer

        self.seed = args.seed
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.engine = None
        self.counters: dict[str, dict[str, float]] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.leaked = 0
        self.attempted = 0
        self.failed = 0
        self.overhead_s = 0.0  # time the traced run spends reading engine counters

    def record_check(self, name: str, ok: bool, detail: str = "") -> None:
        """A check of an operation outside the passes; a mismatch fails it."""
        self.attempted += 1
        self.failed += not ok
        self.checks.append((name, ok, detail))

    @contextmanager
    def layer(self, layer: str, span: str):
        """A span around a call into ``layer``; in a traced run also
        adds the engine counters of the jobs it ran to that layer."""
        if not self.trace:
            yield
            return
        t = time.perf_counter()
        mark = self.engine.mark()
        self.overhead_s += time.perf_counter() - t
        with self.tracer.span(span):
            yield
        t = time.perf_counter()
        acc = self.counters.setdefault(layer, {})
        for k, v in self.engine.since(mark).items():
            acc[k] = acc.get(k, 0.0) + v
        self.overhead_s += time.perf_counter() - t


def make_workload(name: str, ctx):
    if name == "etl_batch":
        from etl import EtlBatch

        return EtlBatch(ctx)
    if name == "catalog":
        from catalog import Catalog

        return Catalog(ctx)
    raise SystemExit(f"unknown workload {name!r}; choose etl_batch or catalog")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="CometBFT log ETL benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=".perfbench", help="artifact directory")
    args = ap.parse_args(argv)

    # The package under test must be importable from the checkout root;
    # in a directory holding only the benchmark this fails, and the run
    # exits non-zero before printing any result.
    sys.path[:0] = [HERE, REPO]
    import cometbft_log_etl_spark  # noqa: F401

    work = os.path.abspath(os.path.join(args.out, f"{args.workload}-{args.seed}-t{args.trace}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    os.chdir(work)  # session side files (spark-warehouse, derby.log) land here

    from probes import become_subreaper, stop_descendants

    become_subreaper()
    # a terminated run still stops its session and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args, work)
    try:
        result, passes = run(args, ctx, env)
    finally:
        try:
            stop_session(ctx.spark)
        finally:
            stop_descendants()
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(dict(result, passes=passes), fh, indent=1)
    for d in ("lake", "stream", "staged", "corpus", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def stop_session(spark) -> None:
    """Stop the session and close the JVM's stdin, on which it exits."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
            SparkContext._gateway = SparkContext._jvm = None


def run(args, ctx, env) -> tuple[dict, list[dict]]:
    """Set up, run the passes, print every metric and check; return the
    result object and the per-pass records."""
    from probes import ProcessTree

    wl = make_workload(args.workload, ctx)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: {wl.describe()}")
    print("environment " + " ".join(f"{k}={v}" for k, v in env.items() if k.startswith("SPARK")))

    from cometbft_log_etl_spark.session import get_spark, persistent_rdd_ids, release_new_persists

    tree = ProcessTree()
    with ctx.tracer.span("session.start"):
        t = time.perf_counter()
        spark = ctx.spark = get_spark()
        setup_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    if ctx.trace:
        from probes import EngineCounters

        ctx.engine = EngineCounters(spark)

    passes: list[dict] = []

    def one_pass(tag: str, traced: bool = False) -> dict | None:
        """Run and check one pass; None when it raised."""
        ctx.attempted += 1
        before = persistent_rdd_ids(spark)
        cpu0 = tree.cpu_s()
        tree.start_peak()
        try:
            if traced:
                with ctx.tracer.span("pass"):
                    t0 = time.perf_counter()
                    wl.run_traced_pass(tag)
                    rec = {"pass_s": time.perf_counter() - t0, "ops": []}
            else:
                pass_s, ops = wl.run_pass(tag)
                rec = {"pass_s": pass_s, "ops": ops}
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            traceback.print_exc()
            ctx.failed += 1
            return None
        finally:
            rec_rss = tree.stop_peak()
            rec_cpu = tree.cpu_s() - cpu0
            ctx.leaked += release_new_persists(spark, before)
        rec.update(cpu_s=rec_cpu, peak_rss=rec_rss, leaked=ctx.leaked)
        ctx.leaked = 0
        checks = wl.check(tag)
        ctx.checks.extend((f"{tag}.{n}", ok, d) for n, ok, d in checks)
        ctx.failed += not all(ok for _, ok, _ in checks)
        print(f"pass {tag}: {rec['pass_s']:.3f} s, cpu {rec_cpu:.1f} s, "
              f"checks {'ok' if all(ok for _, ok, _ in checks) else 'FAIL'}", flush=True)
        return rec

    if not ctx.trace:
        t_loop, i = time.perf_counter(), 0
        while i == 0 or time.perf_counter() - t_loop < args.seconds:
            rec = one_pass(f"pass{i}")
            if rec:
                passes.append(rec)
            i += 1
        metrics = end_to_end(setup_s, passes)
    else:
        traced = one_pass("traced", traced=True)
        metrics = per_layer(ctx, wl, traced) if traced else {}

    ctx.tracer.dump(os.path.join(ctx.work, "spans.json"))
    for name, ok, detail in ctx.checks:
        print(f"check {name}: {'ok' if ok else 'FAIL'}{' (' + detail + ')' if detail else ''}")
    correct = bool(metrics) and all(ok for _, ok, _ in ctx.checks)
    units = {}
    for name, (value, unit) in metrics.items():
        units[name] = {"value": value, "unit": unit}
        print(f"metric {name} = {value:.6g} {unit}")
    print(f"error_rate = {ctx.failed}/{ctx.attempted}")
    return {"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": units}, passes


def end_to_end(setup_s: float, passes: list[dict]) -> dict[str, tuple[float, str]]:
    from probes import quantile

    if not passes:
        return {}
    ops = [o for p in passes for o in p["ops"]]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
        "op_p50_s": (quantile(ops, 0.5), "s"),
        "op_tail_s": (quantile(ops, TAIL_PCT / 100), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_rss_mb": (max(p["peak_rss"] for p in passes) / 2**20, "MB"),
    }


def per_layer(ctx, wl, traced: dict) -> dict[str, tuple[float, str]]:
    """Every per-layer metric; those of layers this workload does not
    exercise read 0."""
    from probes import ENGINE_COUNTERS

    tr = ctx.tracer
    root = tr.find("pass")
    m = {
        "session.start_s": tr.find("session.start").dur,
        "trace.pass_s": traced["pass_s"],
        # measured inside the traced pass only; the probes after it add more
        "trace.overhead_s": ctx.overhead_s,
        "trace.unattributed_s": tr.self_time(root),
    }
    m.update(wl.layer_metrics("traced"))
    m["plans.persists_leaked"] = traced["leaked"] if wl.name == "etl_batch" else 0
    m["error_rate"] = ctx.failed / ctx.attempted
    for layer in LAYERS:
        for k in ENGINE_COUNTERS:
            m[f"{layer}.{k}"] = ctx.counters.get(layer, {}).get(k, 0.0)
    print("blocking path of the traced pass (calls made one at a time; self time of each span):")
    for s in sorted(tr.subtree(root), key=lambda s: s.start):
        print(f"  {s.name:<50} {s.dur:8.3f} s  self {tr.self_time(s):8.3f} s")
    out = {}
    for spec in per_layer_spec():
        out[spec["name"]] = (float(m.get(spec["name"], 0.0)), spec["unit"])
    return out


def per_layer_spec() -> list[dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


if __name__ == "__main__":
    sys.exit(main())
