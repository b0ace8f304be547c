"""Streaming corpus ingest: the LLM-data-pipeline front door.

A 100 TB training corpus is not loaded once — it ARRIVES, continuously,
and the highest-leverage place to deduplicate is on ingest, before
duplicate bytes are ever stored or shuffled again. This module gives
the dedup family (operators/dedup.py) its streaming twins:

- ``streaming_exact_dedup``: first-arrival-wins content dedup via the
  keyed state store (``dropDuplicates`` on the content fingerprint) —
  the streaming form of ``exact_dedup_map``'s grouping. Unbounded
  state: one fingerprint per distinct text ever seen.
- ``streaming_exact_dedup_bounded``: the production variant —
  ``dropDuplicatesWithinWatermark`` over an ingest-time column bounds
  the fingerprint state to the watermark horizon (at 100 TB/day the
  unbounded store is the OOM; a horizon says "a duplicate arriving
  >N hours late is re-admitted and left to the batch compaction pass",
  the standard lambda-style contract).
- ``stateful_canonical_docs``: a custom stateful operator
  (``applyInPandasWithState``) maintaining per-fingerprint
  (canonical_doc_id = running min, n_copies = running count) and
  re-emitting on every change — Flink-style continuous emission. Its
  converged output IS ``exact_dedup_map``'s batch result, which the
  parity test pins (resolved read-side: n_copies is monotone per key,
  so last-writer-wins = max n_copies).

Semantics note (why first-arrival, not min-doc_id, for the built-in
form): streaming dedup keeps whichever replica the stream delivers
first — at ingest that IS the canonical choice (earliest arrival).
The batch operator's min(doc_id) convention is deterministic for
reprocessing; ``stateful_canonical_docs`` bridges the two (its state
converges to min(doc_id) regardless of arrival order).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import raw_parquet_schema


def documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the documents fixture (documents carry
    no event-time column; ingest-time semantics are supplied by the
    caller where needed, see ``with_ingest_ts``)."""
    prep(spark)
    # Raw-file schema memo (r13, the jobs.events_stream fix; shared
    # (path, mtime)-keyed helper since r14, ADVICE r13): the parquet
    # footer read is ~50-100 ms of driver work per invocation.
    schema = raw_parquet_schema(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)


def content_fingerprint() -> F.Column:
    """The ingest dedup key: md5 of the raw text — the same
    fingerprint ``exact_dedup_map`` groups on (operators/dedup.py), so
    stream-side and batch-side dedup agree on what "duplicate" means."""
    return F.md5("text")


def with_ingest_ts(docs: DataFrame, ts_col: str = "ingest_ts") -> DataFrame:
    """Attach a DETERMINISTIC stand-in ingest timestamp for fixtures
    that lack one (doc_id-derived, monotone in doc_id). Production
    streams carry a real ingest/commit timestamp; tests need the
    deterministic one so watermark behavior is reproducible."""
    return docs.withColumn(ts_col, F.timestamp_micros(F.col("doc_id")))


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """First-arrival-wins content dedup on the keyed state store.
    State: one row per distinct fingerprint, forever — correct for
    bounded reprocessing; use the _bounded variant for continuous
    ingest."""
    return (
        docs.withColumn("text_hash", content_fingerprint())
        .dropDuplicates(["text_hash"])
    )


def streaming_exact_dedup_bounded(
    docs: DataFrame,
    horizon: str = "1 hour",
    ts_col: str = "ingest_ts",
) -> DataFrame:
    """Bounded-state ingest dedup: fingerprints older than the
    watermark horizon are evicted, so state ~ (ingest rate x horizon),
    not corpus size. A duplicate arriving beyond the horizon is
    re-admitted — the documented contract: stream-side dedup bounds
    the DOMINANT (near-in-time) duplication; the periodic batch
    ``exact_dedup_map`` compaction owns the long tail."""
    return (
        docs.withWatermark(ts_col, horizon)
        .withColumn("text_hash", content_fingerprint())
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def stateful_canonical_docs(docs: DataFrame) -> DataFrame:
    """Custom stateful canonical-id maintenance: per fingerprint,
    state = (min doc_id so far, copies so far); every micro-batch that
    touches a key re-emits its current (text_hash, canonical_doc_id,
    n_copies) — continuous emission, resolved downstream by
    last-writer-wins (n_copies is strictly monotone per key).

    This is the arbitrary-state escape hatch doing what
    ``dropDuplicates`` cannot: maintaining an AGGREGATE per key
    (running min + count) with arrival-order-independent convergence.
    State size: 2 longs per distinct fingerprint."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        best = state.get[0] if state.exists else None
        n = state.get[1] if state.exists else 0
        changed = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            lo = int(pdf["doc_id"].min())
            n += len(pdf)
            changed = True
            if best is None or lo < best:
                best = lo
        if changed:
            state.update((best, n))
            import pandas as pd

            yield pd.DataFrame(
                {
                    "text_hash": [key[0]],
                    "canonical_doc_id": [best],
                    "n_copies": [n],
                }
            )

    keyed = docs.select(
        content_fingerprint().alias("text_hash"), "doc_id"
    ).groupBy("text_hash")
    return keyed.applyInPandasWithState(
        fn,
        outputStructType="text_hash string, canonical_doc_id long, "
                         "n_copies long",
        stateStructType="min_doc_id long, n_copies long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def resolve_canonical(emissions: DataFrame) -> DataFrame:
    """Last-writer-wins over ``stateful_canonical_docs`` emissions:
    n_copies is strictly monotone per key, so max_by on it recovers
    each key's final state — one two-phase HashAggregate, the same
    read-side-reduce shape as ForeachBatchTopHost."""
    return emissions.groupBy("text_hash").agg(
        F.max_by("canonical_doc_id", "n_copies").alias("canonical_doc_id"),
        F.max("n_copies").alias("n_copies"),
    )


def ingest_data_prep(
    docs: DataFrame,
    eval_grams: DataFrame,
    store_path: str | None = None,
    timeout_sec: int = 120,
    html: bool = False,
) -> str:
    """The LLM data-prep front door as ONE streaming job: arriving
    documents pass cross-batch exact dedup on the keyed state store
    (``streaming_exact_dedup`` — first arrival per content fingerprint
    survives), then every micro-batch of survivors gets the quality
    gate's features, the language gate, and the benchmark-
    decontamination audit, and lands in an executor-side parquet
    store with its keep/flag columns. Returns the store path.

    Composition rule this demonstrates: STATE lives in the streaming
    operator (the dedup store — the only cross-batch memory the
    pipeline needs); everything after it is batch-local per document
    and runs as the exact batch operators inside ``foreachBatch``
    (quality/language: per-row projections; decontamination:
    ``decontaminate_against`` vs the STATIC held-out n-gram set — a
    document's n-grams never span batches). The output is therefore
    batch-equivalent by construction up to WHICH duplicate copy
    survives (first arrival vs the batch min-doc_id convention), and
    since duplicates share their text, every content-derived column
    agrees — the parity test compares on the content fingerprint.

    Scale: the dedup state store is the documented bounded/unbounded
    trade (see ``streaming_exact_dedup_bounded``); the per-batch work
    adds no state and the eval-gram side is a fixed-size broadcast.

    ``html=True`` prepends the HTML->text extraction front-door step
    (text.strip_html_expr — a pure per-row Column projection, so it
    is streaming-safe with no state): the ``text`` column is expected
    to carry markup and is replaced by the extracted visible text
    BEFORE the dedup stage, so deduplication and every downstream
    gate key on content, not markup (two pages differing only in
    markup are duplicates — the CCNet convention).
    """
    from flink_exercise_spark.operators.pipeline import (
        decontaminate_against,
        quality_gate_expr,
        quality_language_features,
    )
    from flink_exercise_spark.operators.text import tokens_expr
    from flink_exercise_spark.streaming.jobs import tracked_tempdir

    path = store_path or tracked_tempdir("ingest_prep_")

    if html:
        from flink_exercise_spark.operators.text import strip_html_expr

        docs = docs.withColumn("text", strip_html_expr("text"))

    def prep_batch(batch: DataFrame, batch_id: int) -> None:
        # The feature projection and keep predicate are the SAME code
        # the batch pipeline runs (pipeline.quality_language_features /
        # quality_gate_expr — md5(text) there equals the dedup stage's
        # text_hash), so a gate change lands in both deployments at
        # once. quality_gate_expr is NULL-safe: a NULL-text document
        # gates to False, never to a NULL that would fall out of BOTH
        # keep==True and keep==False routing downstream.
        toked = batch.select(
            "doc_id", "text", tokens_expr().alias("_toks")
        )
        feat = quality_language_features(toked, hash_col="text_hash")
        flagged = decontaminate_against(batch, eval_grams).select(
            "doc_id", F.lit(True).alias("contaminated")
        )
        out = (
            feat.join(flagged, "doc_id", "left")
            .withColumn(
                "contaminated", F.coalesce("contaminated", F.lit(False))
            )
            .withColumn("quality_ok", quality_gate_expr())
            .withColumn(
                "keep", F.col("quality_ok") & ~F.col("contaminated")
            )
        )
        out.write.mode("append").parquet(path)

    deduped = streaming_exact_dedup(docs)
    q = (
        deduped.writeStream.foreachBatch(prep_batch)
        .trigger(availableNow=True)
        .start()
    )
    # try/finally, not sequential stop: awaitTermination re-raises a
    # failed batch's StreamingQueryException, and skipping stop() then
    # leaks the query's state store + listener threads (ADVICE r6).
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    if not finished:
        raise TimeoutError(
            f"ingest_data_prep did not drain within {timeout_sec}s; "
            f"PARTIAL store at {path} — rerun with a fresh store_path "
            f"(per-batch appends are not checkpointed, so a retry into "
            f"the same path would duplicate rows)"
        )
    return path


# --- streaming NEAR-duplicate detection (MinHash-LSH in the state store) ---


def band_buckets_projected(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) computed as a PURE PROJECTION —
    the streaming-safe form of the batch signature pipeline.

    The batch operator (dedup.minhash_signatures) prefers
    explode -> groupBy(min) so the shuffle carries partial minima;
    a stream cannot chain that aggregation in front of the stateful
    dedup operator (two stateful operators, and the signature is
    per-document anyway). Here each per-permutation minimum is an
    ``array_min(transform(...))`` fold over the document's own shingle
    array: zero shuffles, zero state, exactly one narrow pass — and
    bit-identical to the batch signatures (the parity tests join the
    two forms row-for-row).

    Column binding discipline (the Catalyst lambda-CSE trap,
    SCALE.md): tokens and shingles are each bound by a SELECT before
    reuse — the shingle builder references the token array ~9 times
    and the 8 hash folds reference the shingle array once each;
    passing raw expressions would re-tokenize per reference.
    """
    from flink_exercise_spark.operators.dedup import (
        BAND_ROWS,
        N_MINHASH,
        _banded_signatures,
    )
    from flink_exercise_spark.operators.text import (
        shingles_from_tokens,
        tokens_expr,
    )

    # Shingle-bearing docs only (>= 3 whitespace-separated runs <=>
    # >= one 3-gram shingle), tested as ONE cheap regex on the raw
    # text at the scan. NOT ``filter(size(_sh) > 0)`` after the
    # shingle projection: predicate pushdown substitutes aliases all
    # the way down, so that filter arrives at the scan carrying the
    # ENTIRE inlined shingle construction (split re-evaluated per
    # element_at reference) and runs it at scan parallelism — below
    # the repartition — then the projection computes it all again
    # above the shuffle (measured: 8.0 s -> 2.3 s for the sf0.1
    # banding; SCALE.md "pushdown inlines your aliases").
    src = docs.select("doc_id", "text").filter(
        F.col("text").rlike(r"\S+\s+\S+\s+\S")
    )
    if src.isStreaming:
        # Parallelism ahead of the fold: a single-file micro-batch
        # arrives as 1-2 partitions and the 8 md5 folds then grind on
        # one core (measured: the sf1 straggler task ran minutes while
        # 31 cores idled). Batch inputs get the probe-gated spread();
        # a streaming plan cannot be probed (no .rdd), so the text
        # shuffle is unconditional here — it costs one in-batch pass
        # of the raw payload and buys core-count fold parallelism. A
        # deployment whose micro-batches already arrive as many files
        # can pass pre-partitioned input through spread-free batch
        # banding instead.
        src = src.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    else:
        from flink_exercise_spark.sources.tables import spread

        src = spread(src, "doc_id")
    toks = src.select("doc_id", tokens_expr().alias("_toks"))
    sh = toks.select(
        "doc_id",
        F.array_distinct(shingles_from_tokens(F.col("_toks"))).alias("_sh"),
    )
    # SQL-parsed lambdas, NOT python ``F.transform(..., lambda x: ...)``:
    # eight python lambdas in one Project all name their variable after
    # the same python argument (``x``), and the resolver binds some
    # folds to the WRONG variable — silently wrong minima (caught by
    # the batch-parity test; reproduced minimally: 8 F.transform
    # lambdas in one select disagree with the same folds run one per
    # select). The SQL parser scopes each ``s ->`` properly.
    sigs = sh.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(_sh, s -> md5(concat('{i}|', s))))"
            ).alias(f"h{i}")
            for i in range(N_MINHASH)
        ],
    )
    return _banded_signatures(sigs, N_MINHASH, BAND_ROWS)


def streaming_neardup_emissions(docs: DataFrame) -> DataFrame:
    """Cross-batch NEAR-dup detection on the keyed state store: state
    is (min doc_id, n) per LSH band bucket — O(1) per bucket, so the
    hot-bucket N^2 bomb the batch join must cap (dedup.BUCKET_CAP)
    does not exist here: a bucket holding a million near-identical
    docs costs one state row, not 10^12 candidate pairs.

    Every arriving document emits one row per band carrying the
    bucket's running minimum; the minimum is monotone, so the final
    verdict is arrival-order INDEPENDENT once resolved read-side
    (resolve_neardup_flags) — the same continuous-emission /
    read-side-reduce contract as stateful_canonical_docs.

    CUSTOM-STATE form, measured and NOT the registered deployment: a
    python call per touched bucket per batch prices sf10's 2M buckets
    at 15+ minutes, where the registered ``stream_neardup_ingest``
    job's built-in update-mode MIN aggregation (JVM state store,
    identical relation — equality-pinned in test_streaming_ingest.py)
    takes seconds. Kept because it is the template for bucket state a
    built-in aggregate CANNOT express (e.g. per-bucket exemplar
    payloads or capped member lists), and because its emission log
    additionally carries the per-doc (band, doc) pairs in-stream.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        best = state.get[0] if state.exists else None
        n = state.get[1] if state.exists else 0
        arrived = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            lo = int(pdf["doc_id"].min())
            if best is None or lo < best:
                best = lo
            n += len(pdf)
            arrived.append(pdf["doc_id"])
        if arrived:
            state.update((best, n))
            doc_ids = pd.concat(arrived).astype("int64")
            yield pd.DataFrame(
                {
                    "band_id": key[0],
                    "band_hash": key[1],
                    "doc_id": doc_ids,
                    "bucket_min": best,
                }
            )

    return (
        band_buckets_projected(docs)
        .groupBy("band_id", "band_hash")
        .applyInPandasWithState(
            fn,
            outputStructType="band_id int, band_hash string, "
                             "doc_id long, bucket_min long",
            stateStructType="min_doc_id long, n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def resolve_neardup_verdicts(
    banded: DataFrame, min_emissions: DataFrame
) -> DataFrame:
    """(doc_id, n_dup_bands, is_near_dup): join per-doc band buckets
    (``banded``: doc_id, band_id, band_hash) against the CONVERGED
    per-bucket minima of an update-mode emission log (``min_emissions``
    carries bucket_min re-emissions; minima are monotone, so min over
    the log = final state). A document is a near-dup candidate iff
    some band's final minimum beats its id — exactly the docs the
    batch LSH join would pair with an earlier document."""
    # The aggregate's key columns are renamed before the join: when
    # both sides descend from the same (memory-sink) relation, Spark's
    # self-join attribute disambiguation does not reach through
    # MemoryPlan — identical attribute ids on both sides fail analysis.
    mins = (
        min_emissions.groupBy("band_id", "band_hash")
        .agg(F.min("bucket_min").alias("_m"))
        .select(
            F.col("band_id").alias("_bid"),
            F.col("band_hash").alias("_bh"),
            "_m",
        )
    )
    return (
        banded.join(
            mins,
            (F.col("band_id") == F.col("_bid"))
            & (F.col("band_hash") == F.col("_bh")),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("_m") < F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_dup_bands")
        )
        .withColumn("is_near_dup", F.col("n_dup_bands") > F.lit(0))
    )


def resolve_neardup_flags(emissions: DataFrame) -> DataFrame:
    """Verdicts from the CUSTOM-state operator's emission log alone
    (``streaming_neardup_emissions`` rows carry both the (doc, band)
    pair and the running bucket_min, so the log is self-sufficient)."""
    return resolve_neardup_verdicts(
        emissions.select("doc_id", "band_id", "band_hash"), emissions
    )


def neardup_flags_batch(docs: DataFrame) -> DataFrame:
    """Batch twin of the streaming near-dup verdicts, built from the
    batch signature pipeline (explode -> groupBy minima) — the parity
    tests pin stream == batch on this relation."""
    from flink_exercise_spark.operators.dedup import (
        _banded_signatures,
        minhash_signatures,
    )

    banded = _banded_signatures(minhash_signatures(docs))
    mins = banded.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("_m")
    )
    return (
        banded.join(mins, ["band_id", "band_hash"])
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("_m") < F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_dup_bands")
        )
        .withColumn("is_near_dup", F.col("n_dup_bands") > F.lit(0))
    )


# --- warm-started ingest: continue the persisted index's verdicts ---------


def warm_hash_mins(stream_docs: DataFrame, fp_idx: DataFrame) -> DataFrame:
    """Streaming per-fingerprint first-id aggregation WARM-STARTED from
    the persisted fingerprint index (VERDICT r9 ask #2): the stored
    canonical rides a stream-static left join onto every arriving row,
    and the built-in update-mode MIN aggregation folds it into the
    state store on the key's first touch — state = one long per
    fingerprint, exactly the index row shape, now CONTINUING the
    archive's verdicts instead of starting empty.

    Spark-first state choice: Structured Streaming has no direct
    "initial state" hook for built-in aggregations (and the
    transformWithStateInPandas seam that has one is a guarded
    dependency, streaming/jobs.py) — but none is needed: a
    stream-static join is the supported idiom for folding an immutable
    side relation into streaming state, costs one broadcast-able probe
    per micro-batch, and keeps the aggregation in the JVM state store
    (the measured 100x over custom python state, see
    streaming_neardup_emissions)."""
    hashed = stream_docs.select(
        content_fingerprint().alias("text_hash"), "doc_id"
    ).filter(F.col("text_hash").isNotNull())
    idx = fp_idx.select(
        "text_hash", F.col("canonical_doc_id").alias("_arch")
    )
    return (
        hashed.join(idx, "text_hash", "left")
        .groupBy("text_hash")
        .agg(
            F.min(
                F.least(F.col("doc_id"), F.coalesce("_arch", "doc_id"))
            ).alias("first_id")
        )
    )


def warm_bucket_mins(stream_docs: DataFrame, band_idx: DataFrame) -> DataFrame:
    """Streaming per-band-bucket minimum WARM-STARTED from the
    persisted band index — the near-dup half of warm_hash_mins: the
    stored bucket minimum joins onto each arriving (doc, band) row and
    folds into the built-in MIN state, so a bucket the archive already
    holds yields verdicts as if the archive's documents had streamed
    first. State stays (one long)/bucket; the hot-bucket N^2 cannot
    exist here any more than in the cold-start form."""
    banded = band_buckets_projected(stream_docs)
    idx = band_idx.select(
        "band_id", "band_hash", F.col("min_doc_id").alias("_arch")
    )
    return (
        banded.join(idx, ["band_id", "band_hash"], "left")
        .groupBy("band_id", "band_hash")
        .agg(
            F.min(
                F.least(F.col("doc_id"), F.coalesce("_arch", "doc_id"))
            ).alias("bucket_min")
        )
    )


def resolve_incremental_stream_verdicts(
    docs: DataFrame, hash_emissions: DataFrame, bucket_emissions: DataFrame
) -> DataFrame:
    """(doc_id, verdict, canonical_doc_id) — incremental_dedup's exact
    output contract resolved from the two warm-started emission logs
    (update-mode sinks re-emit changed keys; minima are monotone, so
    min over each log = converged state):

    - exact_dup  iff the fingerprint's converged first_id beats the
      doc's own id (archive canonical or an earlier stream arrival);
    - near_dup   elif some band bucket's converged minimum beats it;
    - new        otherwise (including NULL-text documents, which have
      no fingerprint and no shingles);
    - canonical_doc_id = that winning minimum (the minimum matching
      source across archive and stream), itself for 'new'.

    Equality with incremental_dedup over history ∪ stream — and hence
    with full-batch semantics — is pinned in
    tests/test_streaming_ingest.py."""
    h_mins = (
        hash_emissions.groupBy("text_hash")
        .agg(F.min("first_id").alias("_fid"))
        .select(F.col("text_hash").alias("_th"), "_fid")
    )
    b_mins = (
        bucket_emissions.groupBy("band_id", "band_hash")
        .agg(F.min("bucket_min").alias("_m"))
        .select(
            F.col("band_id").alias("_bid"),
            F.col("band_hash").alias("_bh"),
            "_m",
        )
    )
    hashed = docs.select("doc_id", content_fingerprint().alias("text_hash"))
    ex = hashed.join(
        h_mins, F.col("text_hash") == F.col("_th"), "left"
    ).select("doc_id", "_fid")
    near = (
        band_buckets_projected(docs)
        .join(
            b_mins,
            (F.col("band_id") == F.col("_bid"))
            & (F.col("band_hash") == F.col("_bh")),
        )
        .groupBy("doc_id")
        .agg(
            F.min(
                F.when(F.col("_m") < F.col("doc_id"), F.col("_m"))
            ).alias("_nm")
        )
    )
    return (
        ex.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_fid") < F.col("doc_id"), F.lit("exact_dup"))
            .when(F.col("_nm").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(F.col("_fid") < F.col("doc_id"), F.col("_fid"))
            .when(F.col("_nm").isNotNull(), F.col("_nm"))
            .otherwise(F.col("doc_id"))
            .cast("long")
            .alias("canonical_doc_id"),
        )
    )


def warm_start_ingest_dedup(
    stream_docs: DataFrame,
    static_docs: DataFrame,
    fp_idx: DataFrame,
    band_idx: DataFrame,
    name_prefix: str = "warm_ingest",
) -> DataFrame:
    """Run the warm-started ingest job end to end: both state
    aggregations (exact fingerprints + band buckets, each initialized
    from its persisted index half via the stream-static join) drain
    into memory sinks, then the converged state resolves to
    incremental_dedup-shaped verdicts for the streamed increment.

    ``static_docs`` is the batch twin of the streamed input (the
    resolver needs the increment's own band projection); a deployment
    resolves against the landed parquet instead. Restart story: after
    a run, merge the increment into the stores
    (incremental.merge_fingerprint_index / merge_band_index) — a
    RESTARTED job then warm-starts from the updated index and
    continues exactly where the dead job's state left off (the
    two-job replay test)."""
    from flink_exercise_spark.streaming.jobs import run_to_memory

    spark = static_docs.sparkSession
    run_to_memory(
        warm_hash_mins(stream_docs, fp_idx), f"{name_prefix}_hash", "update"
    )
    run_to_memory(
        warm_bucket_mins(stream_docs, band_idx),
        f"{name_prefix}_bands",
        "update",
    )
    return resolve_incremental_stream_verdicts(
        static_docs,
        spark.table(f"{name_prefix}_hash"),
        spark.table(f"{name_prefix}_bands"),
    )
