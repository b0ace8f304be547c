"""Benchmark entry point: one seeded workload (or both) against the
package in the checkout this file sits in.

    python3 perfbench/run.py --workload clf_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Prints each metric with its unit, then, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). ``--out FILE`` also appends the run's record to FILE
for ``compare.py``. Everything the run writes stays under
``.perfbench/`` in the checkout, and is removed at exit except the
trace spans of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# Span names whose self time the traced run reports.
LAYERS = ("bench", "sources.clf", "aggregates", "streaming.jobs",
          "spark.action", "spark.plan", "spark.exec")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def percentile_label(n: int) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it."""
    if n < 20:
        return 50.0, "p50"
    p = min(90.0, 100.0 * (1 - 10 / n))
    return p, f"p{int(p)}"


def quantile(values: list[float], p: float) -> float:
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Session:
    """Owns the SparkSession: every conf the benchmark depends on is set
    here, sized from the cores this process may run on."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self.on_start = []

    def conf(self, cores: int) -> dict[str, str]:
        return {
            "spark.sql.shuffle.partitions": str(cores),
            "spark.default.parallelism": str(cores),
            "spark.sql.adaptive.enabled": "true",
            "spark.driver.memory": "2g",
            # A fixed heap: a heap the JVM grows on its own grows to a
            # different size each run, and GC time follows.
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.checkpointLocation":
                os.path.join(self.work, "checkpoints"),
        }

    def start(self, cores: int):
        from flink_exercise_spark.session import get_spark, prep

        self.stop()
        spark = get_spark("perfbench", master=f"local[{cores}]", conf=self.conf(cores))
        spark.sparkContext.setLogLevel("ERROR")
        prep(spark)
        spark.range(1).count()
        for hook in self.on_start:
            hook(spark)
        self.spark = spark
        return spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 cores: int, session: Session, work: str) -> dict:
    import tracing as tr
    import workloads as wl

    wdir = os.path.join(work, name)
    os.makedirs(wdir, exist_ok=True)
    t0 = time.perf_counter()
    w = wl.WORKLOADS[name](wdir, seed)
    gen_s = time.perf_counter() - t0
    session.on_start = [w.attach] if hasattr(w, "attach") else []

    t0 = time.perf_counter()
    spark = session.start(cores)
    start_s = time.perf_counter() - t0
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = session.start(cores)
        setups.append(time.perf_counter() - t0)

    attempted = failed = 0

    def account(ops) -> None:
        nonlocal attempted, failed
        attempted += len(ops)
        bad = [op for op, _, ok in ops if not ok]
        failed += len(bad)
        for op in bad:
            print(f"FAILED {name}: {op}", file=sys.stderr)

    ctx = wl.Ctx(spark, tr.Tracer(False), wdir)
    # Untimed passes first, so that code generation, class loading and
    # most JIT compilation are done before timing (passes still speed up
    # for a while after, so each workload fixes how many it times).
    t0 = time.perf_counter()
    for _ in range(w.warmup_passes):
        account(w.run_pass(ctx))
    warmup_s = time.perf_counter() - t0
    if traced:
        ctx.tracer = tr.Tracer(True)
    w.latencies.clear()

    walls, layers = [], []
    deadline = time.perf_counter() + seconds
    while len(walls) < w.passes or time.perf_counter() < deadline:
        ctx.layer = {}
        ctx.tracer.op = len(walls)
        t0 = time.perf_counter()
        with ctx.tracer.span("bench"):
            ops = w.run_pass(ctx)
        walls.append(time.perf_counter() - t0)
        account(ops)
        if traced:
            self_s = ctx.tracer.self_times(ctx.tracer.op)
            for layer in LAYERS:
                ctx.layer[f"self.{layer}_s"] = self_s.get(layer, 0.0)
            ctx.layer["trace.self_sum_share"] = sum(self_s.values()) / walls[-1]
            layers.append(ctx.layer)
    rss = tr.peak_rss_mb([os.getpid(), session.jvm_pid()])
    latencies = list(w.latencies)
    if traced:  # one more pass, untraced, for the tracing overhead
        tracer, ctx.tracer = ctx.tracer, tr.Tracer(False)
        t0 = time.perf_counter()
        account(w.run_pass(ctx))
        untraced_s = time.perf_counter() - t0
        ctx.tracer = tracer
    wall = statistics.median(walls)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "rows_per_s": w.records / wall,
        "op_p50_s": statistics.median(latencies),
    }
    p, label = percentile_label(len(latencies))
    extra = {"gen_s": gen_s, "start_s": start_s, "warmup_s": warmup_s,
             "driver.peak_rss_mb": rss,
             "passes": len(walls), "records": w.records,
             f"{w.op}_p50_s": e2e["op_p50_s"],
             f"{w.op}_{label}_s": quantile(latencies, p),
             f"{w.op}_samples": len(latencies)}
    result = {"e2e": e2e, "extra": extra, "walls": walls, "digest": w.digest}
    if traced:
        layer = {k: statistics.median(d.get(k, 0.0) for d in layers)
                 for k in set().union(*layers)}
        layer["driver.peak_rss_mb"] = rss
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        layer["trace.wall_s"] = statistics.median(walls)
        layer["trace.overhead_share"] = layer["trace.wall_s"] / untraced_s - 1
        layer["spark.exec.core_busy_share"] = (
            layer.get("spark.exec.task_run_s", 0.0) / (layer["trace.wall_s"] * cores))
        if w.op == "batch":
            layer["stream.batch_p50_s"] = statistics.median(latencies)
            layer["stream.batch_p90_s"] = quantile(latencies, 90)
        if hasattr(w, "probes"):
            ctx.tracer.op = "probes"
            layer.update(w.probes(ctx, session.start))
            if "clf.single_thread_wall_s" in layer:
                layer["clf.speedup"] = layer["clf.single_thread_wall_s"] / layer["trace.wall_s"]
        if layer.get("registry.query_s"):
            layer["registry.build_share"] = layer["registry.build_s"] / layer["registry.query_s"]
        result["layer"] = layer
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                     f"{name}-seed{seed}.json"))
    result.update(attempted=attempted, failed=failed)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append this run's record to a JSON-lines file")
    args = ap.parse_args(argv)

    spec = _bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names + ["all"]:
        ap.error(f"--workload must be one of {names + ['all']}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    sys.path.insert(0, ROOT)
    import flink_exercise_spark  # noqa: F401 — fail here, before any result, outside a checkout

    # Keep every file the run writes inside the checkout: Python and JVM
    # temp files, Spark's local dirs, and no JVM perf-data files in /tmp.
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp

    cores = len(os.sched_getaffinity(0))
    session = Session(work)
    attempted, failed, metrics = 0, 0, {}
    try:
        for name in names if args.workload == "all" else [args.workload]:
            r = run_workload(name, args.seed, args.seconds, bool(args.trace),
                             cores, session, work)
            attempted += r["attempted"]
            failed += r["failed"]
            values = r["layer"] if args.trace else r["e2e"]
            print(f"== {name}: seed {args.seed}, local[{cores}], "
                  f"{r['extra']['records']} input records (sha256 {r['digest'][:16]}), "
                  f"{r['extra']['passes']} timed passes")
            print("   pass walls: " + " ".join(f"{x:.3f}" for x in r["walls"]))
            for key, value in sorted(r["extra"].items()):
                print(f"   {key} = {value:.6g}")
            print(f"   failed_share = {r['failed'] / r['attempted']:.6g} "
                  f"({r['failed']} of {r['attempted']} operations)")
            for key, value in sorted(values.items()):
                unit = units.get(key)
                if unit is not None or args.trace:
                    print(f"   {key} = {value:.6g} {unit or ''}")
            prefix = f"{name}/" if args.workload == "all" else ""
            for key in units:
                metrics[prefix + key] = {"value": values.get(key, 0.0), "unit": units[key]}
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": name, "seed": args.seed,
                                        "trace": args.trace, **r}) + "\n")
        print("   conf: " + json.dumps({"master": f"local[{cores}]",
                                        **session.conf(cores)}))
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
