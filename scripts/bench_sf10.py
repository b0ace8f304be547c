"""sf10 scaling bench (VERDICT r5 item 6): one more decade for the
five headline operators — near-dup clustering, LSH-verified pairs,
stream-stream interval join, keyless band range join, and time-series
pattern search — measured at BOTH sf1 and sf10 in the same session
(same host minute), so the linearity column is same-run, not a
cross-day comparison against BENCH_SF1.md.

DuckDB oracle twins run per-query in a SUBPROCESS with a hard timeout
(default 900 s): at sf10 several oracle formulations are expected to
be non-linear for DuckDB (recursive-CTE closure, IEJoin pair
enumeration), and a DNF is a result, not a failure of the run.

Output: one JSON line with per-op {sf1, sf10, scale_factor} for Spark
and {sf10 | "timeout"} for DuckDB.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/.localdata/sf1")
SF10 = os.environ.get("SPARK_GRAFT_SF10_DIR", "/root/repo/.localdata/sf10")
RUNS = int(os.environ.get("SPARK_GRAFT_SF10_RUNS", "2"))
BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2400"))
DUCK_TIMEOUT = float(os.environ.get("SPARK_GRAFT_DUCK_TIMEOUT", "900"))

OPS = [
    "dedup_near_dup_clusters",
    "dedup_lsh_verified_pairs",
    "stream_interval_join_attribution",
    "range_join_concurrent_events",
    "ts_pattern_search",
    # r6 additions (BENCH_SF10.md "Round-6 additions"):
    "dedup_exact_substring",
    "pipeline_decontaminate",
    # r7 additions (VERDICT r6 item 7): the r6 text/packing family
    "text_vocab_topk",
    "text_token_rarity",
    "pipeline_pack_chunks",
    "dedup_line_boilerplate",
    # r7 mid-round additions: DSIR importance weighting + SemDeDup
    "text_dsir_weights",
    "dedup_semantic_prune",
    # r7 third wave: heavy-hitters sketch + streaming LSH near-dup
    "events_heavy_hitters",
    "stream_neardup_ingest",
    # r7 fourth wave: sf10 anchors for the sf100 decade column
    # (BENCH_SF100.md rows measured before these existed)
    "doc_quantiles_by_source",
    "events_funnel_steps",
    "text_bigram_lift",
    # r7 sixth wave: the retrieval family
    "text_bm25_topk",
    "retrieval_hybrid_rrf",
    # r7 seventh wave: temperature mixing + keep-best selection
    "pipeline_temperature_mix",
    "dedup_cluster_keep_best",
    # r7 eighth wave: document chunking
    "text_chunk_overlap",
    # r8: HTML -> text extraction (pure codegen projection)
    "text_html_extract",
]

# Optional subset: comma-separated op names (e.g. just the newest
# additions) so a round can extend the record without re-measuring
# every prior decade in the same session.
_ONLY = os.environ.get("SPARK_GRAFT_SF10_OPS")
if _ONLY:
    _sel = [x.strip() for x in _ONLY.split(",") if x.strip()]
    unknown = set(_sel) - set(OPS)
    assert not unknown, f"unknown ops {unknown}"
    OPS = _sel


def spark_side() -> dict[str, dict[str, float]]:
    from flink_exercise_spark import registry
    from flink_exercise_spark.session import get_spark, local_cores

    spark = get_spark(
        app_name="bench-sf10",
        master=f"local[{local_cores()}]",
        conf={
            # sf10 is real data volume: size partitions for work, not
            # for scheduling overhead (bench.py's sf0.1 rationale
            # inverts at 60M-row lineitem).
            "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
            "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "true"),
            "spark.default.parallelism": os.environ.get("SPARK_GRAFT_DP", "32"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    specs = registry.specs()
    start = time.perf_counter()
    out: dict[str, dict[str, float]] = {n: {} for n in OPS}
    for sf_name, sf_dir in (("sf1", SF1), ("sf10", SF10)):
        for name in OPS:
            try:
                runs = []
                for _ in range(RUNS):
                    t0 = time.perf_counter()
                    from bench import materialize

                    n = materialize(specs[name].fn(spark, sf_dir))
                    runs.append(time.perf_counter() - t0)
                    spark.catalog.clearCache()
                    if time.perf_counter() - start > BUDGET:
                        break
                out[name][sf_name] = round(min(runs), 3)
                print(
                    f"# spark {sf_name} {name}: {out[name][sf_name]:.2f}s"
                    f" ({n} rows, {len(runs)} runs)",
                    file=sys.stderr,
                )
            except Exception as exc:  # noqa: BLE001
                out[name][sf_name] = -1.0
                print(f"# spark {sf_name} {name}: FAILED {exc}", file=sys.stderr)
            finally:
                spark.catalog.clearCache()
    spark.stop()
    return out


_DUCK_SNIPPET = """
import json, sys, time
import duckdb
from flink_exercise_spark import registry
sf_dir, name = sys.argv[1], sys.argv[2]
con = duckdb.connect()
con.execute("SET enable_progress_bar=false")
for t in ("region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
sql = registry.oracles()[name]
t0 = time.perf_counter()
n = len(con.execute(sql).fetchall())
print(json.dumps({"sec": time.perf_counter() - t0, "rows": n}))
"""


def duckdb_side(names: list[str]) -> dict[str, dict]:
    from flink_exercise_spark import registry

    oracles = registry.oracles()
    out: dict[str, dict] = {}
    for name in names:
        if name not in oracles:
            out[name] = {"sf10": None, "note": "rows-only (no oracle)"}
            continue
        try:
            r = subprocess.run(
                [sys.executable, "-c", _DUCK_SNIPPET, SF10, name],
                capture_output=True,
                text=True,
                timeout=DUCK_TIMEOUT,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            if r.returncode != 0:
                out[name] = {"sf10": -1.0, "note": r.stderr.strip()[-200:]}
            else:
                # Parse from the LAST '{' in stdout: DuckDB's progress
                # bar (now disabled, but belt-and-braces) writes
                # carriage-return frames onto the same stream as the
                # result line.
                idx = r.stdout.rfind("{")
                try:
                    d = json.loads(r.stdout[idx:]) if idx >= 0 else None
                except json.JSONDecodeError:
                    d = None
                if d is None:
                    out[name] = {"sf10": -1.0,
                                 "note": f"no JSON in stdout: {r.stdout[-200:]!r}"}
                else:
                    out[name] = {"sf10": round(d["sec"], 3), "rows": d["rows"]}
        except subprocess.TimeoutExpired:
            out[name] = {"sf10": "timeout", "note": f">{DUCK_TIMEOUT:.0f}s (DNF)"}
        print(f"# duck sf10 {name}: {out[name]}", file=sys.stderr)
    return out


def main() -> None:
    for d in (SF1, SF10):
        if not os.path.isdir(d):
            print(f"missing {d}; run scripts/make_sf1.py / make_sf10.py",
                  file=sys.stderr)
            sys.exit(1)
    spark_t = spark_side()
    if os.environ.get("SPARK_GRAFT_SKIP_DUCK", "0") == "1":
        duck_t = {n: {"sf10": None, "note": "skipped"} for n in OPS}
    else:
        duck_t = duckdb_side(OPS)
    report = {}
    for n in OPS:
        s1, s10 = spark_t[n].get("sf1", -1), spark_t[n].get("sf10", -1)
        report[n] = {
            "spark_sf1": s1,
            "spark_sf10": s10,
            "spark_scale_factor": round(s10 / s1, 2) if s1 > 0 and s10 > 0 else None,
            "duckdb_sf10": duck_t[n].get("sf10"),
            **({"duckdb_note": duck_t[n]["note"]} if "note" in duck_t[n] else {}),
        }
    print(json.dumps({"metric": "sf10_headline_scaling", "sf": 10.0,
                      "ops": report}))


if __name__ == "__main__":
    main()
