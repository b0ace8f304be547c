"""Corpus-prep CLI: the LLM data-prep pipeline as a runnable tool.

    python -m flink_exercise_spark.prep \\
        --input /data/drop --format jsonl --output /data/clean \\
        [--audit /data/corrupt] [--decontaminate /data/benchmarks] \\
        [--streaming] [--cores 8]

Reads a JSONL/CSV document corpus through the audited source
(sources/corpus.py), runs the same composition the registered
``pipeline_llm_data_prep`` / ``ingest_data_prep`` operators are
hash-checked on — exact dedup (canonical min doc_id), quality +
language gates, optional benchmark decontamination — writes the
surviving documents (with their gate columns, so downstream consumers
can re-slice) to parquet, and prints ONE JSON summary line.

``--streaming`` routes the same input through the streaming ingest
front door instead (state-store dedup, foreachBatch prep) — the
deployment shape for a continuously-arriving drop directory; dedup
then keeps the FIRST arrival rather than the min doc_id (the
documented stream/batch difference; content-derived columns agree
either way since duplicates share their text).

Everything here is a thin arrangement of already-oracled operators —
the CLI adds invocation, not semantics.
"""

from __future__ import annotations

import argparse
import json
import sys


def run_batch_prep(
    spark,
    input_path: str,
    output_path: str,
    fmt: str = "jsonl",
    audit_path: str | None = None,
    decontaminate_path: str | None = None,
    dsir_target_path: str | None = None,
    html: bool = False,
    index_path: str | None = None,
) -> dict:
    """Batch prep over a corpus directory; returns the summary dict.
    ``html=True`` treats the text column as markup and extracts the
    visible text FIRST (text.strip_html_expr), so dedup and every gate
    key on content, not markup — the same front-door placement as the
    streaming path (streaming/ingest.ingest_data_prep(html=True)).

    ``index_path`` makes the CLI the daily-batch entry point for the
    incremental-dedup machinery (VERDICT r9 ask #8): day 1 (no stores
    under the directory yet) bootstraps the fingerprint + band index
    from the input; later runs classify the input AGAINST the
    persisted index (operators/incremental.incremental_dedup — exact
    dups of the archive or of earlier rows in this run drop, near
    dups keep their verdict/canonical columns in the output) and then
    merge the increment into the stores, so the next run continues
    the archive's verdicts. Existence is probed with os.path (this
    CLI runs against local paths; the operators themselves are
    path-scheme agnostic). The id-ordering contract (index ids precede
    increment ids) is guarded inside the merges."""
    from pyspark.sql import functions as F

    from flink_exercise_spark.operators.pipeline import (
        decontaminate_against,
        eval_ngram_set,
        quality_gate_expr,
        quality_language_features,
    )
    from flink_exercise_spark.operators.text import tokens_expr
    from flink_exercise_spark.sources.corpus import (
        read_csv_documents,
        read_jsonl_documents,
    )

    from flink_exercise_spark.caching import persist_tracked

    read = read_jsonl_documents if fmt == "jsonl" else read_csv_documents
    valid, corrupt = read(spark, input_path)
    if html:
        from flink_exercise_spark.operators.text import strip_html_expr

        valid = valid.withColumn("text", strip_html_expr("text"))
    # Both relations are consumed by several actions below (counts,
    # writes, the dedup build, the text re-attach join); without a
    # persist each action re-runs the full text-scan + parse — the
    # multi-scan cost the module's own scale notes call prohibitive.
    valid = persist_tracked(valid)
    if audit_path:
        corrupt = persist_tracked(corrupt)

    n_corrupt = corrupt.count()
    if audit_path:
        corrupt.write.mode("overwrite").parquet(audit_path)

    toked = valid.select("doc_id", "text", tokens_expr().alias("_toks"))
    # NULL-safe fingerprint: md5(NULL) is NULL and a null-UNSAFE join
    # on it would silently drop every NULL-text document (never match
    # its own canon row). The sentinel groups all NULL-text docs as
    # one empty-content family — the same outcome streaming's
    # dropDuplicates (null-safe) produces — and the quality gate then
    # drops the lone survivor.
    feat = quality_language_features(toked, hash_col="text_hash").withColumn(
        "text_hash", F.coalesce("text_hash", F.lit("__null_text__"))
    )
    feat = persist_tracked(feat)

    index_bootstrapped = None
    n_exact_dup = n_near_dup = None
    if index_path:
        import os

        fp_path = os.path.join(index_path, "fingerprints")
        band_path = os.path.join(index_path, "bands")
        index_bootstrapped = not (
            os.path.exists(fp_path) and os.path.exists(band_path)
        )
    if index_path and not index_bootstrapped:
        # Day-2+ shape: classification against the persisted archive.
        # incremental_dedup also resolves WITHIN-run duplicates (its
        # canonical is the minimum source across index and increment),
        # so it replaces, not augments, the within-run group-by.
        from flink_exercise_spark.operators.incremental import (
            incremental_dedup,
            read_band_index,
        )

        verdicts = incremental_dedup(
            valid.select("doc_id", "text"),
            spark.read.parquet(fp_path).select(
                "text_hash", "canonical_doc_id", "n_copies"
            ),
            read_band_index(spark, band_path),
        ).select(
            "doc_id",
            "verdict",
            F.col("canonical_doc_id").alias("canonical_src_id"),
        )
        classified = persist_tracked(feat.join(verdicts, "doc_id"))
        counts_v = classified.agg(
            F.sum((F.col("verdict") == "exact_dup").cast("long")).alias("e"),
            F.sum((F.col("verdict") == "near_dup").cast("long")).alias("n"),
        ).collect()[0]
        n_exact_dup, n_near_dup = int(counts_v["e"]), int(counts_v["n"])
        deduped = classified.filter(F.col("verdict") != "exact_dup")
    else:
        # Canonical exact dedup: min doc_id per content fingerprint —
        # the batch convention (operators/dedup.exact_dedup_map),
        # computed on the narrow feature relation (no text column
        # rides the shuffle).
        canon = feat.groupBy("text_hash").agg(
            F.min("doc_id").alias("doc_id")
        )
        deduped = feat.join(canon, ["text_hash", "doc_id"])

    if decontaminate_path:
        bench_valid, _ = read_jsonl_documents(spark, decontaminate_path)
        grams = eval_ngram_set(bench_valid)
        flagged = decontaminate_against(valid, grams).select(
            "doc_id", F.lit(True).alias("contaminated")
        )
        deduped = deduped.join(flagged, "doc_id", "left").withColumn(
            "contaminated", F.coalesce("contaminated", F.lit(False))
        )
    else:
        deduped = deduped.withColumn("contaminated", F.lit(False))

    out = deduped.withColumn("quality_ok", quality_gate_expr()).withColumn(
        "keep", F.col("quality_ok") & ~F.col("contaminated")
    )
    # Re-attach text for the kept documents only — one narrow join at
    # the end instead of carrying text through dedup + gates.
    kept = out.filter("keep").join(
        valid.select("doc_id", "text", "lang", "source"), "doc_id"
    )
    if dsir_target_path:
        # DSIR importance weights against an explicit curated target
        # corpus (operators/importance.py): raw model fits on the full
        # valid input, every kept document carries its score so the
        # downstream trainer can importance-resample. Narrow (doc_id,
        # long, long) join — text never rides it.
        from flink_exercise_spark.operators.importance import (
            dsir_scores_against,
        )

        target_valid, _ = read_jsonl_documents(spark, dsir_target_path)
        kept = kept.join(
            dsir_scores_against(valid, target_valid).select(
                "doc_id",
                F.col("n_grams").alias("dsir_n_grams"),
                "dsir_micronats",
            ),
            "doc_id",
            "left",
        )
    kept.write.mode("overwrite").parquet(output_path)

    if index_path:
        # Index maintenance AFTER the output lands: the increment
        # (every valid doc, duplicates included — n_copies accounting)
        # becomes part of the archive the NEXT run classifies against.
        inc_docs = valid.select("doc_id", "text")
        if index_bootstrapped:
            import os

            from flink_exercise_spark.operators.incremental import (
                write_band_index,
                write_fingerprint_index,
            )

            os.makedirs(index_path, exist_ok=True)
            write_fingerprint_index(inc_docs, fp_path)
            write_band_index(inc_docs, band_path)
        else:
            from flink_exercise_spark.operators.incremental import (
                merge_band_index,
                merge_fingerprint_index,
            )

            merge_fingerprint_index(spark, fp_path, inc_docs)
            merge_band_index(spark, band_path, inc_docs)

    counts = out.agg(
        F.count(F.lit(1)).alias("n_deduped"),
        # coalesce: a fully-deduplicated increment (a legitimate daily
        # outcome once --index-path holds a mature archive) leaves zero
        # rows, and sum over zero rows is NULL, not 0
        F.coalesce(
            F.sum((~F.col("quality_ok")).cast("long")), F.lit(0)
        ).alias("n_quality_fail"),
        F.coalesce(
            F.sum(F.col("contaminated").cast("long")), F.lit(0)
        ).alias("n_contaminated"),
        F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias(
            "n_kept"
        ),
    ).collect()[0]
    n_valid = valid.count()
    return {
        "mode": "batch",
        "n_input_valid": n_valid,
        "n_corrupt": n_corrupt,
        "n_duplicates": n_valid - counts["n_deduped"],
        "n_quality_fail": int(counts["n_quality_fail"]),
        "n_contaminated": int(counts["n_contaminated"]),
        "n_kept": int(counts["n_kept"]),
        "output": output_path,
        **({"audit": audit_path} if audit_path else {}),
        **({"dsir_target": dsir_target_path} if dsir_target_path else {}),
        **(
            {
                "index": index_path,
                "index_bootstrapped": index_bootstrapped,
                **(
                    {
                        "n_exact_dup_vs_index": n_exact_dup,
                        "n_near_dup_vs_index": n_near_dup,
                    }
                    if not index_bootstrapped
                    else {}
                ),
            }
            if index_path
            else {}
        ),
    }


def run_streaming_prep(
    spark,
    input_path: str,
    output_path: str,
    decontaminate_path: str | None = None,
    audit_path: str | None = None,
    html: bool = False,
) -> dict:
    """Streaming-front-door prep (JSONL drop directory).

    The corrupt audit runs as its OWN checkpointed streaming query
    over the same drop directory (the corpus source's documented
    second-scan trade): exactly-once per file via its checkpoint,
    independent of the main prep job's lifecycle — an audit sink
    outage must not stall document ingest.
    """
    from flink_exercise_spark.operators.pipeline import eval_ngram_set
    from flink_exercise_spark.sources.corpus import (
        read_jsonl_documents,
        stream_jsonl_documents,
    )
    from flink_exercise_spark.streaming.ingest import ingest_data_prep
    from flink_exercise_spark.streaming.jobs import _drain, tracked_tempdir

    valid, corrupt = stream_jsonl_documents(spark, input_path)
    if decontaminate_path:
        bench_valid, _ = read_jsonl_documents(spark, decontaminate_path)
        grams = eval_ngram_set(bench_valid)
    else:
        grams = spark.createDataFrame([], "tok string")

    n_corrupt = None
    if audit_path:
        _drain(
            corrupt.writeStream.format("parquet")
            .option("path", audit_path)
            .option(
                "checkpointLocation", tracked_tempdir("prep_audit_ckpt_")
            )
            .outputMode("append"),
            spark, None, True, "prep_audit",
        )
        n_corrupt = spark.read.parquet(audit_path).count()

    store = ingest_data_prep(
        valid, grams, store_path=output_path, html=html
    )
    got = spark.read.parquet(store)
    return {
        "mode": "streaming",
        "n_deduped": got.count(),
        "n_kept": got.filter("keep").count(),
        "n_contaminated": got.filter("contaminated").count(),
        "output": store,
        **(
            {"audit": audit_path, "n_corrupt": n_corrupt}
            if audit_path
            else {}
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="flink_exercise_spark.prep",
        description="LLM corpus prep: audited ingest -> dedup -> "
                    "quality/language gates -> decontamination -> parquet",
    )
    ap.add_argument("--input", required=True, help="corpus directory")
    ap.add_argument("--format", choices=("jsonl", "csv"), default="jsonl")
    ap.add_argument("--output", required=True, help="parquet output dir")
    ap.add_argument("--audit", help="parquet dir for corrupt-record audit")
    ap.add_argument("--decontaminate",
                    help="JSONL dir of held-out benchmark docs to 13-gram-block")
    ap.add_argument("--dsir-target",
                    help="JSONL dir of a curated target corpus; kept docs "
                         "gain DSIR importance-weight columns (batch only)")
    ap.add_argument("--index-path",
                    help="persisted dedup-index directory (fingerprint + "
                         "band stores): first run bootstraps it from the "
                         "input, later runs classify the input against "
                         "the archive (exact dups drop, near dups are "
                         "flagged) and merge the increment in — the "
                         "daily-batch incremental-dedup entry point")
    ap.add_argument("--streaming", action="store_true",
                    help="run through the streaming ingest front door")
    ap.add_argument("--html", action="store_true",
                    help="input text is HTML markup: extract visible "
                         "text first, so dedup and the gates key on "
                         "content")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    from flink_exercise_spark.session import get_spark

    spark = get_spark(
        app_name="corpus-prep",
        master=f"local[{args.cores}]",
        conf={"spark.sql.shuffle.partitions": str(args.cores)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.streaming and args.format != "jsonl":
        # Fail loudly rather than silently ignoring the flag: the
        # streaming front door has no CSV reader.
        ap.error("--streaming supports only --format jsonl")
    if args.streaming and args.dsir_target:
        # Same loud-failure contract: the fitted raw-side model needs
        # the whole corpus; a per-micro-batch refit would score early
        # and late arrivals against different models.
        ap.error("--dsir-target is batch-only")
    if args.streaming and args.index_path:
        # Loud-failure contract again: the streaming twin of the
        # index-warm path is streaming/ingest.warm_start_ingest_dedup
        # (state warm-started from the same stores); the CLI's
        # --index-path is the daily-BATCH entry point.
        ap.error("--index-path is batch-only (streaming deployments "
                 "use ingest.warm_start_ingest_dedup)")
    try:
        if args.streaming:
            summary = run_streaming_prep(
                spark, args.input, args.output, args.decontaminate,
                audit_path=args.audit, html=args.html,
            )
        else:
            summary = run_batch_prep(
                spark, args.input, args.output, args.format,
                args.audit, args.decontaminate,
                dsir_target_path=args.dsir_target, html=args.html,
                index_path=args.index_path,
            )
        print(json.dumps(summary))
        return 0
    finally:
        from flink_exercise_spark.caching import release_persisted

        release_persisted()
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
