"""The timed workloads (``clf_batch``, ``clf_stream``) and the prep and
registry probe of the traced run (``CorpusPrep``). Each generates its
inputs from the seed, runs one pass of the package's public surfaces
over them, and checks what the pass returned against the generator's
answers.

A pass returns its operations as ``(name, seconds, ok)``; a failed or
mismatched operation keeps its time and counts as failed.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import time
import traceback

import gen
import tracing as tr

# Input sizes, chosen so one warm pass takes a few seconds on 4 cores.
CLF_LINES, CLF_HOSTS = 80_000, 5_000
STREAM_LINES, STREAM_HOSTS, STREAM_FILES, STREAM_LATE = 24_000, 1_500, 3, 40
CORPUS_DOCS = 3_000
# The registry's entries over the documents table that the prep CLI's
# operators share: fingerprints, exact dedup, the quality/language
# pipeline (which persists) and the pandas-UDF decoder.
DOC_QUERIES = ("text_fingerprints", "dedup_exact_map", "pipeline_llm_data_prep",
               "mm_decode_features")


class Ctx:
    """What a pass needs: the session, the tracer and the per-pass
    layer numbers the traced run reports."""

    def __init__(self, spark, tracer: tr.Tracer, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.layer: dict[str, float] = {}
        self._seq = 0

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def group(self, label: str) -> str:
        self._seq += 1
        group = f"{label}#{self._seq}"
        self.spark.sparkContext.setJobGroup(group, label)
        return group

    def record_jobs(self, group: str, parent: dict | None) -> dict:
        """Add the group's job and stage totals to the layer numbers and
        its jobs, as spans, under ``parent``."""
        stats = tr.job_group_stats(self.spark, group)
        for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                    "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
                    "spill_mb"):
            self.add(f"spark.exec.{key}", stats[key])
        self.layer["spark.exec.peak_exec_mem_mb"] = max(
            self.layer.get("spark.exec.peak_exec_mem_mb", 0.0),
            stats["peak_exec_mem_mb"])
        for start, end in sorted(stats["job_spans"]):
            self.tracer.child(parent, "spark.exec", start, end)
        return stats

    def action(self, label: str, df, fn):
        """Run ``fn`` (an action on ``df``) under its own job group.
        Returns (result or None, seconds, ok)."""
        group = self.group(label)
        t0 = time.perf_counter()
        ok, result = True, None
        with self.tracer.span("spark.action") as sp:
            try:
                result = fn()
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                traceback.print_exc()
                ok = False
        seconds = time.perf_counter() - t0
        if self.tracer.enabled and ok:
            phases = tr.plan_phases(df)
            for name, s in phases.items():
                self.add(f"spark.plan.{name}_s", s)
            plan_s = phases["optimization"] + phases["planning"]
            self.tracer.child(sp, "spark.plan", sp["start"], sp["start"] + plan_s)
            stats = self.record_jobs(group, sp)
            self.add(f"{label}.input_mb", stats["input_mb"])
            for name, s in tr.operator_times(df).items():
                self.add(f"spark.ops.{name}", s)
        return result, seconds, ok


def _guarded(fn):
    """(result, ok) of ``fn()``; an exception is printed and counted."""
    try:
        return fn(), True
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        traceback.print_exc()
        return None, False


class ClfBatch:
    name = "clf_batch"
    op = "q1"
    warmup_passes, passes = 3, 5

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.path = os.path.join(work, "clf_in")
        self.ans = gen.write_clf_batch(seed, self.path, CLF_LINES, CLF_HOSTS)
        self.digest = gen.dir_digest(self.path)
        self.records = CLF_LINES
        self.expected = {"q1": self.ans.q1(), "q2": self.ans.q2(), "q3": self.ans.q3()}
        self.latencies: list[float] = []

    def run_pass(self, ctx: Ctx) -> list[tuple[str, float, bool]]:
        from flink_exercise_spark.__main__ import batch_queries
        from flink_exercise_spark.sources.clf import parse_clf, valid_lines

        t0 = time.perf_counter()
        with ctx.tracer.span("sources.clf"):
            logs = valid_lines(parse_clf(ctx.spark.read.text(self.path)))
        with ctx.tracer.span("aggregates"):
            queries = dict(zip(("q1", "q2", "q3"), batch_queries(logs)))
        build_s = time.perf_counter() - t0
        ops = []
        for key, df in queries.items():
            rows, seconds, ok = ctx.action(f"aggregates.{key}", df, df.collect)
            ctx.add(f"aggregates.{key}_s", seconds)
            with ctx.tracer.span("bench"):
                ok = ok and self._check(key, rows)
            ops.append((key, seconds + (build_s if key == "q1" else 0.0), ok))
        self.latencies.append(ops[0][1])  # Q1, the paper's headline query
        return ops

    def _check(self, key: str, rows) -> bool:
        if key == "q1":
            got = {r["window_start"]: (r["top_client"], r["n_requests"]) for r in rows}
        elif key == "q2":
            got = {r["window_start"]: r["n_unique_clients"] for r in rows}
        else:
            got = {r["window_start"]: r["avg_reply_bytes"] for r in rows}
        return got == self.expected[key]

    def probes(self, ctx: Ctx, make_session) -> dict[str, float]:
        """Parse-only pass, channel counts, and one pass at local[1]."""
        from pyspark.sql import functions as F

        from flink_exercise_spark.sources.clf import invalid_lines, parse_clf, valid_lines

        spark = ctx.spark
        parsed = parse_clf(spark.read.text(self.path))
        valid = valid_lines(parsed)
        probe = valid.agg(F.count(F.lit(1)).alias("n"),
                          F.bit_xor(F.xxhash64(*valid.columns)).alias("chk"))
        t0 = time.perf_counter()
        n_valid = probe.collect()[0]["n"]
        parse_s = time.perf_counter() - t0
        n_corrupt = invalid_lines(parsed).count()
        out = {"clf.parse_s": parse_s, "clf.rows_valid": n_valid,
               "clf.rows_corrupt": n_corrupt}
        if n_valid != self.ans.rows() or n_valid + n_corrupt != CLF_LINES:
            raise AssertionError(f"parse probe: {n_valid} valid, {n_corrupt} corrupt")
        out.update(CorpusPrep(os.path.join(ctx.work, "corpus"), self.seed).probes(ctx))
        single = make_session(1)
        one = Ctx(single, tr.Tracer(False), ctx.work)
        t0 = time.perf_counter()
        ops = self.run_pass(one)
        out["clf.single_thread_wall_s"] = time.perf_counter() - t0
        if not all(ok for _, _, ok in ops):
            raise AssertionError("local[1] pass returned a wrong answer")
        return out


class ClfStream:
    name = "clf_stream"
    op = "batch"
    warmup_passes, passes = 3, 6

    def __init__(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "stream_in")
        self.store = os.path.join(work, "stream_store")
        self.ans, self.delay_h = gen.write_clf_stream(
            seed, self.dir, STREAM_LINES, STREAM_HOSTS, STREAM_FILES, STREAM_LATE)
        self.digest = gen.dir_digest(self.dir)
        self.records = STREAM_LINES + STREAM_LATE
        self.listener = tr.ProgressListener()
        self.latencies: list[float] = []

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    def run_pass(self, ctx: Ctx) -> list[tuple[str, float, bool]]:
        from pyspark.sql import functions as F

        from flink_exercise_spark.sources.clf import parse_clf, valid_lines
        from flink_exercise_spark.streaming.jobs import (
            ForeachBatchTopHost,
            windowed_host_counts,
        )

        spark, tracer = ctx.spark, ctx.tracer
        shutil.rmtree(self.store, ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("sources.clf"):
            raw = spark.readStream.option("maxFilesPerTrigger", 1).text(self.dir)
            events = valid_lines(parse_clf(raw)).withColumnRenamed("host", "user_id")
        seen, ended = len(self.listener.progress), self.listener.terminated
        with tracer.span("streaming.jobs") as sp:
            def drain():
                counts = windowed_host_counts(events, f"{self.delay_h} hours")
                ForeachBatchTopHost(store_path=self.store).run(counts, finalize=False)
                self.listener.wait_terminated(ended + 1)
            _, ok = _guarded(drain)
        drain_s = time.perf_counter() - t0
        progress = self.listener.progress[seen:]
        batch_s = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        self.latencies.extend(batch_s)
        dropped = sum(op.numRowsDroppedByWatermark
                      for p in progress for op in p.stateOperators)
        ok = ok and len(progress) == STREAM_FILES and dropped == STREAM_LATE
        if tracer.enabled:
            self._trace_batches(ctx, sp, progress)
            ctx.add("stream.late_rows_dropped", dropped)
        ops = [("drain", drain_s, ok)]

        def resolve():
            resolved = ForeachBatchTopHost(store_path=self.store).resolved_counts(spark)
            return resolved.groupBy("window_start").agg(
                F.max(F.struct("n_requests", "user_id")).alias("top"),
                F.count(F.lit(1)).alias("n_hosts"),
                F.sum("n_requests").alias("n_rows"),
            )
        t1 = time.perf_counter()
        with tracer.span("streaming.jobs"):
            df, ok = _guarded(resolve)
        rows = None
        if ok:
            rows, _, ok = ctx.action("stream.resolve", df, df.collect)
        seconds = time.perf_counter() - t1
        ctx.add("stream.resolve_s", seconds)
        with tracer.span("bench"):
            ok = ok and self._check(rows)
        ops.append(("resolve", seconds, ok))
        return ops

    def _check(self, rows) -> bool:
        top = {r["window_start"]: (r["top"]["user_id"], r["top"]["n_requests"]) for r in rows}
        hosts = {r["window_start"]: r["n_hosts"] for r in rows}
        total = {r["window_start"]: r["n_rows"] for r in rows}
        want_total = {w: sum(per.values()) for w, per in self.ans.counts.items()}
        return top == self.ans.q1() and hosts == self.ans.q2() and total == want_total

    def _trace_batches(self, ctx: Ctx, parent, progress) -> None:
        phase_layer = {"latestOffset": "streaming.jobs", "getBatch": "streaming.jobs",
                       "queryPlanning": "spark.plan", "addBatch": "spark.exec",
                       "walCommit": "streaming.jobs", "commitOffsets": "streaming.jobs"}
        if progress:  # a stream's jobs run under its run id as job group
            ctx.record_jobs(str(progress[0].runId), None)
        for p in progress:
            d = p.durationMs
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            batch = ctx.tracer.child(parent, "streaming.jobs", start,
                                     start + d["triggerExecution"] / 1e3)
            cur = start
            for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                          "walCommit", "commitOffsets"):
                s = d.get(phase, 0) / 1e3
                ctx.tracer.child(batch, phase_layer[phase], cur, cur + s)
                cur += s
            ctx.add("stream.batches", 1)
            for phase, key in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                               ("getBatch", "get_batch_s"), ("walCommit", "wal_commit_s"),
                               ("commitOffsets", "commit_offsets_s")):
                ctx.add(f"stream.{key}", d.get(phase, 0) / 1e3)
            for op in p.stateOperators:
                ctx.add("stream.state_commit_s", op.commitTimeMs / 1e3)
        if progress:
            last = progress[-1].stateOperators
            ctx.add("stream.state_rows", sum(op.numRowsTotal for op in last))
            ctx.add("stream.state_mem_mb", sum(op.memoryUsedBytes for op in last) / tr.MB)


def _materialize(df):
    """(rows, checksum) computed in the engine over every output column,
    the way bench.py's ``materialize`` forces a full result."""
    from pyspark.sql import functions as F

    try:
        return df.agg(F.count(F.lit(1)).alias("n"),
                      F.bit_xor(F.xxhash64(*df.columns)).alias("chk"))
    except Exception:  # noqa: BLE001 — a column type xxhash64 cannot take
        return df.agg(F.count(F.lit(1)).alias("n"),
                      F.bit_xor(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("chk"))


def _normalized(rows, cols) -> list[tuple[str, ...]]:
    """Rows as strings with columns sorted by name and floats to 6
    significant digits, sorted: an order-insensitive value form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float) or type(v).__name__ == "Decimal":
                vals.append(f"{float(v):.6g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


class CorpusPrep:
    """The prep CLI and the registry's document entries over one seeded
    corpus; the traced ``clf_batch`` run calls it as a probe."""

    def __init__(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "corpus")
        self.heldout = os.path.join(work, "heldout.jsonl")
        self.sf_dir = os.path.join(work, "sf")
        self.out = os.path.join(work, "prep_out")
        self.ans = gen.write_corpus(seed, self.dir, self.heldout, self.sf_dir,
                                    CORPUS_DOCS)
        self.records = CORPUS_DOCS
        self.order = list(DOC_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.reference: dict[str, tuple[int, int]] = {}

    def run_pass(self, ctx: Ctx) -> list[tuple[str, float, bool]]:
        return [self._prep(ctx)] + [self._query(ctx, name) for name in self.order]

    def _prep(self, ctx: Ctx) -> tuple[str, float, bool]:
        import pyarrow.parquet as pq

        from flink_exercise_spark.caching import release_persisted
        from flink_exercise_spark.prep import run_batch_prep

        t0 = time.perf_counter()
        group = ctx.group("prep")
        with ctx.tracer.span("prep") as sp:
            summary, ok = _guarded(lambda: run_batch_prep(
                ctx.spark, self.dir, self.out, decontaminate_path=self.heldout))
        run_s = time.perf_counter() - t0
        if ctx.tracer.enabled:
            stats = ctx.record_jobs(group, sp)
            ctx.add("prep.run_s", run_s)
            ctx.add("prep.jobs", stats["jobs"])
            ctx.add("caching.mem_mb", tr.storage_mem_mb(ctx.spark))
            ctx.add("prep.output_mb", sum(
                e.stat().st_size for e in os.scandir(self.out) if e.is_file()) / tr.MB)
        with ctx.tracer.span("bench"):
            if ok:
                got = {k: summary[k] for k in self.ans["summary"]}
                kept = set(pq.read_table(self.out, columns=["doc_id"])
                           .column("doc_id").to_pylist())
                ok = got == self.ans["summary"] and kept == self.ans["kept_ids"]
        release_persisted()
        return "prep", time.perf_counter() - t0, ok

    def _query(self, ctx: Ctx, name: str) -> tuple[str, float, bool]:
        """One registry entry, built and fully materialized; its row
        count and checksum must match the oracle-checked run's."""
        from flink_exercise_spark import registry

        t0 = time.perf_counter()
        group = ctx.group("registry.build")
        with ctx.tracer.span("registry") as sp:
            df, ok = _guarded(lambda: registry.specs()[name].fn(ctx.spark, self.sf_dir))
        build_s = time.perf_counter() - t0
        if ctx.tracer.enabled:
            ctx.add("registry.build_s", build_s)
            ctx.record_jobs(group, sp)
        got = None
        if ok:
            agg = _materialize(df)
            row, _, ok = ctx.action("registry.query", agg, agg.collect)
            got = tuple(row[0]) if ok else None
        with ctx.tracer.span("bench"):
            ok = ok and self.reference.get(name) == got
        seconds = time.perf_counter() - t0
        if ctx.tracer.enabled:
            ctx.add("registry.query_s", seconds)
        return name, seconds, ok

    def warm_up(self, ctx: Ctx) -> list[tuple[str, float, bool]]:
        return self.check_oracles(ctx.spark) + [self._prep(ctx)]

    def check_oracles(self, spark) -> list[tuple[str, float, bool]]:
        """Each registry entry's full result against its DuckDB oracle
        (row count and order-insensitive values); an entry without an
        oracle must only run. Fixes the checksum later passes must
        reproduce."""
        import duckdb

        from flink_exercise_spark import registry

        specs = registry.specs()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, 'documents.parquet')}'")
            ops = []
            for name in self.order:
                t0 = time.perf_counter()

                def check():
                    df = specs[name].fn(spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    self.reference[name] = tuple(_materialize(df).collect()[0])
                    if specs[name].oracle is None:
                        return True
                    cur = con.execute(specs[name].oracle)
                    want = cur.fetchall()
                    cols = [d[0] for d in cur.description]
                    return (sorted(df.columns) == sorted(cols)
                            and _normalized(rows, df.columns) == _normalized(want, cols))
                ok, ran = _guarded(check)
                ops.append((f"oracle:{name}", time.perf_counter() - t0, bool(ran and ok)))
            return ops
        finally:
            con.close()

    def probes(self, ctx: Ctx) -> dict[str, float]:
        """Checked prep and registry calls with their layer numbers, and
        a parse-only pass over the corpus: the layers no timed workload
        runs (see README.md)."""
        from pyspark.sql import functions as F

        from flink_exercise_spark.sources.corpus import read_jsonl_documents

        layer, ctx.layer = ctx.layer, {}
        try:
            ops = self.warm_up(Ctx(ctx.spark, tr.Tracer(False), ctx.work))
            ops += self.run_pass(ctx)
            if not all(ok for _, _, ok in ops):
                raise AssertionError("prep or registry probe returned a wrong answer")
            # Only the probe's own layers, and its Python UDF time (no
            # timed workload runs a Python UDF): Spark totals stay the
            # timed passes'.
            out = {k: v for k, v in ctx.layer.items()
                   if k.split(".")[0] in ("prep", "registry", "caching")
                   or k == "spark.ops.python_udf_s"}
        finally:
            ctx.layer = layer
        valid, corrupt = read_jsonl_documents(ctx.spark, self.dir)
        probe = valid.agg(F.count(F.lit(1)).alias("n"),
                          F.bit_xor(F.xxhash64(*valid.columns)).alias("chk"))
        t0 = time.perf_counter()
        probe.collect()
        out["corpus.parse_s"] = time.perf_counter() - t0
        out["corpus.rows_corrupt"] = corrupt.count()
        if out["corpus.rows_corrupt"] != self.ans["summary"]["n_corrupt"]:
            raise AssertionError("corpus probe: corrupt count differs")
        return out


WORKLOADS = {w.name: w for w in (ClfBatch, ClfStream)}
