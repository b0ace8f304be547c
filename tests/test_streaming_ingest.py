"""Streaming corpus-ingest dedup (streaming/ingest.py): stream-side
exact dedup must agree with the batch dedup family on what "duplicate"
means, the custom stateful canonical operator must converge to the
batch ``exact_dedup_map`` exactly, and the bounded variant must
actually bound its state domain (re-admit beyond the horizon)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.operators.dedup import exact_dedup_map
from flink_exercise_spark.sources.tables import load_table
from flink_exercise_spark.streaming.ingest import (
    documents_stream,
    resolve_canonical,
    stateful_canonical_docs,
    streaming_exact_dedup,
    streaming_exact_dedup_bounded,
    with_ingest_ts,
)
from flink_exercise_spark.streaming.jobs import run_to_memory
from tests.conftest import SF_SMOKE


def test_streaming_exact_dedup_keeps_one_per_fingerprint(spark):
    stream = streaming_exact_dedup(documents_stream(spark, SF_SMOKE))
    run_to_memory(stream, "ingest_dedup", "append")
    kept = spark.sql("SELECT text_hash, doc_id FROM ingest_dedup")

    docs = load_table(spark, SF_SMOKE, "documents")
    exp = docs.select(F.md5("text").alias("text_hash")).distinct()
    # exactly one survivor per distinct fingerprint, fingerprint set
    # identical to the batch view of the corpus
    assert kept.count() == exp.count()
    assert kept.select("text_hash").distinct().count() == exp.count()
    assert (
        kept.select("text_hash").exceptAll(exp).count() == 0
        and exp.exceptAll(kept.select("text_hash")).count() == 0
    )
    # every survivor is a real member of its fingerprint group
    docs_h = docs.select(F.md5("text").alias("h"), F.col("doc_id").alias("d"))
    bad = kept.join(
        docs_h,
        (kept["text_hash"] == docs_h["h"]) & (kept["doc_id"] == docs_h["d"]),
        "left_anti",
    )
    assert bad.count() == 0


def test_stateful_canonical_docs_converges_to_batch_map(spark):
    # multiple micro-batches (one file, but maxFilesPerTrigger=1 still
    # yields a single batch for a single-file dir — the update-mode
    # emissions exercise the state path regardless)
    stream = stateful_canonical_docs(documents_stream(spark, SF_SMOKE))
    run_to_memory(stream, "canon_emissions", "update")
    got = resolve_canonical(spark.table("canon_emissions"))

    exp = exact_dedup_map(load_table(spark, SF_SMOKE, "documents"))
    g = {tuple(r) for r in got.collect()}
    e = {
        (r["text_hash"], r["canonical_doc_id"], r["n_copies"])
        for r in exp.collect()
    }
    assert g == e


def test_stateful_canonical_converges_across_batches(spark, tmp_path):
    """Arrival-order independence: feed replicas of one text in two
    separate micro-batches, worse doc_id first — the state must
    converge to the global min and the total copy count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "docs_in"
    d.mkdir()
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )

    def tbl(rows):
        return pa.Table.from_pylist(rows, schema=schema)

    pq.write_table(
        tbl([
            {"doc_id": 50, "text": "same text", "lang": "en", "source": "a",
             "n_chars": 9},
            {"doc_id": 60, "text": "other", "lang": "en", "source": "a",
             "n_chars": 5},
        ]),
        d / "b0.parquet",
    )
    pq.write_table(
        tbl([
            {"doc_id": 10, "text": "same text", "lang": "en", "source": "b",
             "n_chars": 9},
        ]),
        d / "b1.parquet",
    )

    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(d / "b0.parquet")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_to_memory(
        stateful_canonical_docs(stream), "canon_two_batches", "update"
    )
    got = {
        (r["canonical_doc_id"], r["n_copies"])
        for r in resolve_canonical(spark.table("canon_two_batches"))
        .join(
            spark.createDataFrame(
                [("same text",)], "t string"
            ).select(F.md5("t").alias("text_hash")),
            "text_hash",
        )
        .collect()
    }
    assert got == {(10, 2)}  # min doc_id wins across batches; both counted


def test_bounded_dedup_readmits_beyond_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract on ingest time: a
    duplicate inside the horizon is dropped; one arriving beyond it is
    re-admitted (its fingerprint state was evicted) — state is bounded
    by rate x horizon, the batch compaction owns the long tail."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "docs_ts"
    d.mkdir()
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    base_us = 1_700_000_000 * 1_000_000
    hour = 3_600 * 1_000_000
    # batch 0: original + near-in-time duplicate (dropped). Watermark
    # advancement then needs TWO further batches before the state is
    # gone from the duplicate's point of view: the wm derived from
    # batch N's data only takes effect in batch N+1, and the eviction
    # it triggers lands after that batch's dedup lookups (measured on
    # this Spark version — the contract only promises drops WITHIN the
    # horizon, and may-or-may-not beyond). Batch 3's duplicate, 4h of
    # ingest time past the original with a 1h horizon, must be
    # re-admitted.
    batches = [
        [{"doc_id": base_us, "text": "dup me"},
         {"doc_id": base_us + 1_000_000, "text": "dup me"}],
        [{"doc_id": base_us + 3 * hour, "text": "advance wm"}],
        [{"doc_id": base_us + 4 * hour, "text": "advance wm 2"}],
        [{"doc_id": base_us + 4 * hour + 1_000_000, "text": "dup me"}],
    ]
    import time

    for i, rows in enumerate(batches):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema), d / f"b{i}.parquet"
        )
        # the file source orders batches by modification time; space the
        # writes so ordering is deterministic across filesystems
        time.sleep(1.05)
    stream = (
        spark.readStream.schema(spark.read.parquet(str(d / "b0.parquet")).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    deduped = streaming_exact_dedup_bounded(
        with_ingest_ts(stream), horizon="1 hour"
    )
    run_to_memory(deduped, "bounded_dedup", "append")
    n = spark.sql(
        "SELECT count(*) AS n FROM bounded_dedup WHERE text = 'dup me'"
    ).collect()[0]["n"]
    # in-horizon duplicate dropped (not 3); beyond-horizon re-admitted
    # (not 1) — exactly the documented bounded-state contract
    assert n == 2


def test_ingest_data_prep_end_to_end(spark):
    """The composed streaming front door (stateful dedup -> quality +
    language + decontamination audit) must agree with the batch
    operators on every CONTENT-derived column, keyed by the content
    fingerprint (which duplicate copy survives is arrival-order, but
    duplicates share their text, so all flags agree)."""
    from flink_exercise_spark.operators.pipeline import (
        MIN_LEXICAL_DIVERSITY,
        MIN_STOPWORD_RATIO,
        MIN_TOKENS,
        decontaminate_against,
        eval_ngram_set,
        hash_split_expr,
        llm_data_prep,
    )
    from flink_exercise_spark.streaming.ingest import ingest_data_prep

    docs = load_table(spark, SF_SMOKE, "documents")
    eval_grams = eval_ngram_set(docs.filter(hash_split_expr() == "test"))

    path = ingest_data_prep(documents_stream(spark, SF_SMOKE), eval_grams)
    got = spark.read.parquet(path)

    # one surviving row per distinct fingerprint
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert got.count() == n_distinct
    assert got.select("text_hash").distinct().count() == n_distinct

    # contamination flags agree with the batch operator, content-keyed
    batch_flags = {
        r["h"]
        for r in decontaminate_against(docs, eval_grams)
        .join(docs.select("doc_id", F.md5("text").alias("h")), "doc_id")
        .select("h")
        .distinct()
        .collect()
    }
    stream_flags = {
        r["text_hash"]
        for r in got.filter(F.col("contaminated")).collect()
    }
    assert stream_flags == batch_flags

    # the keep gate reproduces the batch pipeline's corpus accounting:
    # docs kept by (quality AND language AND dedup) in batch ==
    # streamed rows with quality_ok (per distinct fingerprint)
    batch_total = (
        llm_data_prep(docs).agg(F.sum("n_docs")).collect()[0][0] or 0
    )
    assert (
        got.filter(F.col("quality_ok")).count() == batch_total
    )


# --- streaming NEAR-dup (MinHash-LSH band buckets in the state store) ---


def test_stream_neardup_equals_batch_twin(spark):
    from flink_exercise_spark.streaming.ingest import (
        neardup_flags_batch,
        resolve_neardup_flags,
        streaming_neardup_emissions,
    )

    emissions = streaming_neardup_emissions(documents_stream(spark, SF_SMOKE))
    run_to_memory(emissions, "neardup_em", "update")
    got = resolve_neardup_flags(spark.table("neardup_em"))
    want = neardup_flags_batch(load_table(spark, SF_SMOKE, "documents"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # sanity: the fixture corpus actually contains near-dups
    assert got.filter("is_near_dup").count() > 0


def test_stream_neardup_projection_matches_batch_signatures(spark):
    """The streaming-safe HOF-fold signatures are bit-identical to the
    batch explode->groupBy signatures, band for band."""
    from flink_exercise_spark.operators.dedup import (
        _banded_signatures,
        minhash_signatures,
    )
    from flink_exercise_spark.streaming.ingest import band_buckets_projected

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    a = band_buckets_projected(docs)
    b = _banded_signatures(minhash_signatures(docs))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_neardup_arrival_order_independent(spark, tmp_path):
    """Two replicas of one text arriving LOWER-id-last across separate
    micro-batches: the resolved verdicts must still flag the higher id
    (min-doc_id canonical), exactly as the batch twin does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_exercise_spark.streaming.ingest import (
        neardup_flags_batch,
        resolve_neardup_flags,
        streaming_neardup_emissions,
    )

    d = tmp_path / "nd_in"
    d.mkdir()
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string())]
    )
    text = "alpha beta gamma delta epsilon zeta"
    near = "alpha beta gamma delta epsilon eta"
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": 50, "text": text},
             {"doc_id": 60, "text": "totally different words here now"}],
            schema=schema,
        ),
        d / "b0.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": 10, "text": text},
             {"doc_id": 20, "text": near}],
            schema=schema,
        ),
        d / "b1.parquet",
    )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(d / "b0.parquet")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_to_memory(
        streaming_neardup_emissions(stream), "neardup_order", "update"
    )
    got = {
        (r["doc_id"], r["is_near_dup"])
        for r in resolve_neardup_flags(
            spark.table("neardup_order")
        ).collect()
    }
    batch = spark.read.parquet(str(d))
    want = {
        (r["doc_id"], r["is_near_dup"])
        for r in neardup_flags_batch(batch).collect()
    }
    assert got == want
    # 10 is canonical (not a dup) even though it arrived AFTER 50
    assert (10, False) in got and (50, True) in got


def test_stream_neardup_jvm_aggregate_equals_custom_state(spark):
    """The registered deployment (built-in update-mode MIN in the JVM
    state store + read-side batch-banding join) computes exactly the
    custom-state operator's relation AND the batch twin."""
    from flink_exercise_spark.streaming.ingest import (
        band_buckets_projected,
        neardup_flags_batch,
        resolve_neardup_flags,
        resolve_neardup_verdicts,
        streaming_neardup_emissions,
    )

    mins = (
        band_buckets_projected(documents_stream(spark, SF_SMOKE))
        .groupBy("band_id", "band_hash")
        .agg(F.min("doc_id").alias("bucket_min"))
    )
    run_to_memory(mins, "nd_jvm_minsink", "update")
    docs = load_table(spark, SF_SMOKE, "documents")
    got = resolve_neardup_verdicts(
        band_buckets_projected(docs), spark.table("nd_jvm_minsink")
    )

    emissions = streaming_neardup_emissions(documents_stream(spark, SF_SMOKE))
    run_to_memory(emissions, "nd_custom_sink", "update")
    custom = resolve_neardup_flags(spark.table("nd_custom_sink"))

    batch = neardup_flags_batch(docs)
    for other in (custom, batch):
        assert got.count() == other.count()
        assert got.exceptAll(other).count() == 0
        assert other.exceptAll(got).count() == 0


def test_ingest_data_prep_html_front_door(spark):
    """VERDICT r8 ask #8: HTML input through the composed streaming
    front door — extraction (strip_html_expr) runs as the stateless
    first step ahead of dedup and the quality gates, so the store is
    content-keyed on EXTRACTED text and agrees with the batch
    operators applied to the batch-extracted corpus."""
    from flink_exercise_spark.operators.pipeline import (
        decontaminate_against,
        eval_ngram_set,
        hash_split_expr,
        llm_data_prep,
    )
    from flink_exercise_spark.operators.text import (
        html_wrap_expr,
        strip_html_expr,
    )
    from flink_exercise_spark.streaming.ingest import ingest_data_prep

    docs = load_table(spark, SF_SMOKE, "documents")
    # batch reference: the same wrap -> extract, batch-side
    extracted = docs.withColumn(
        "text", strip_html_expr(html_wrap_expr())
    )
    eval_grams = eval_ngram_set(
        extracted.filter(hash_split_expr() == "test")
    )

    html_stream = documents_stream(spark, SF_SMOKE).withColumn(
        "text", html_wrap_expr()
    )
    path = ingest_data_prep(html_stream, eval_grams, html=True)
    got = spark.read.parquet(path)

    # dedup keyed on EXTRACTED content: one row per distinct extracted
    # fingerprint, and the fingerprint set equals the batch view
    exp_hashes = {
        r[0]
        for r in extracted.select(F.md5("text")).distinct().collect()
    }
    assert got.count() == len(exp_hashes)
    assert {
        r["text_hash"] for r in got.select("text_hash").collect()
    } == exp_hashes

    # contamination flags agree with the batch operator on the
    # extracted corpus, content-keyed
    batch_flags = {
        r["h"]
        for r in decontaminate_against(extracted, eval_grams)
        .join(
            extracted.select("doc_id", F.md5("text").alias("h")),
            "doc_id",
        )
        .select("h")
        .distinct()
        .collect()
    }
    stream_flags = {
        r["text_hash"]
        for r in got.filter(F.col("contaminated")).collect()
    }
    assert stream_flags == batch_flags

    # quality accounting equals the batch pipeline over the extracted
    # corpus
    batch_total = (
        llm_data_prep(extracted).agg(F.sum("n_docs")).collect()[0][0]
        or 0
    )
    assert got.filter(F.col("quality_ok")).count() == batch_total
    # sanity: the wrapper really added markup that extraction removed
    assert got.count() > 0


# --- warm-started ingest from the persisted index (VERDICT r9 ask #2) ------


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )


def _write_batches(tmp_path, name, batches):
    """One parquet file per micro-batch (maxFilesPerTrigger=1 turns
    each into its own trigger)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    for i, rows in enumerate(batches):
        pq.write_table(
            pa.Table.from_pylist(
                [{"doc_id": k, "text": t} for k, t in rows.items()], schema
            ),
            d / f"b{i}.parquet",
        )
    return str(d)


def _stream_of(spark, path):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_warm_start_equals_incremental_and_full_batch(spark, tmp_path):
    """The headline warm-start contract: a streaming ingest job whose
    state initializes from the persisted fingerprint + band index
    yields EXACTLY incremental_dedup's verdicts over the increment —
    which test_incremental pins equal to full-batch semantics over
    history ∪ increment (the pure-python reference re-checked here)."""
    from flink_exercise_spark.operators.incremental import (
        band_index,
        fingerprint_index,
        incremental_dedup,
    )
    from flink_exercise_spark.streaming.ingest import warm_start_ingest_dedup
    from tests.test_incremental import CRAFTED, _ref_verdicts

    history = {d: t for d, t in CRAFTED.items() if d < 100}
    increment = {d: t for d, t in CRAFTED.items() if d >= 100}
    # two micro-batches, worse-id half first: the verdicts must be
    # arrival-order independent
    ids = sorted(increment)
    batches = [
        {d: increment[d] for d in ids[len(ids) // 2:]},
        {d: increment[d] for d in ids[: len(ids) // 2]},
    ]
    path = _write_batches(tmp_path, "inc_stream", batches)

    hist_df = _docs_df(spark, history)
    fp_idx = fingerprint_index(hist_df)
    band_idx = band_index(hist_df)
    got = (
        warm_start_ingest_dedup(
            _stream_of(spark, path),
            _docs_df(spark, increment),
            fp_idx,
            band_idx,
            name_prefix="warm_one",
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    want_inc = (
        incremental_dedup(_docs_df(spark, increment), fp_idx, band_idx)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(got, want_inc)
    ref = _ref_verdicts(CRAFTED, 100)
    assert len(got) == len(ref)
    for d, (v, c) in ref.items():
        assert got.loc[d, "verdict"] == v, d
        assert got.loc[d, "canonical_doc_id"] == c, d


def test_warm_start_restart_replay(spark, tmp_path):
    """The restart story: job 1 ingests batch A against the persisted
    stores, the increment merges into the stores, job 2 RESTARTS with
    empty streaming state over batch B — and because its state
    warm-starts from the UPDATED index, the union of both jobs'
    verdicts equals full-batch semantics over history ∪ A ∪ B. Without
    the warm start, job 2 would re-admit every document the archive
    already holds."""
    from flink_exercise_spark.operators.incremental import (
        merge_band_index,
        merge_fingerprint_index,
        read_band_index,
        write_band_index,
        write_fingerprint_index,
    )
    from flink_exercise_spark.streaming.ingest import warm_start_ingest_dedup
    from tests.test_incremental import CRAFTED, _ref_verdicts

    history = {d: t for d, t in CRAFTED.items() if d < 100}
    batch_a = {d: CRAFTED[d] for d in CRAFTED if d in (100, 101)}
    batch_b = {d: CRAFTED[d] for d in CRAFTED if d >= 102}
    # batch B must contain a dup of something only in A (the replay
    # hinge: job 2 can only catch it via the merged index) — 102 is
    # the exact dup of 101 and 104 the near dup of 101, and the split
    # puts 101 in A with 102/104 in B
    assert 101 in batch_a and 102 in batch_b and 104 in batch_b

    fp_path = str(tmp_path / "fp_store")
    band_path = str(tmp_path / "band_store")
    hist_df = _docs_df(spark, history)
    write_fingerprint_index(hist_df, fp_path)
    write_band_index(hist_df, band_path)

    def read_fp():
        return spark.read.parquet(fp_path).select(
            "text_hash", "canonical_doc_id", "n_copies"
        )

    # --- job 1: batch A
    a_path = _write_batches(tmp_path, "a_stream", [batch_a])
    got_a = (
        warm_start_ingest_dedup(
            _stream_of(spark, a_path),
            _docs_df(spark, batch_a),
            read_fp(),
            read_band_index(spark, band_path),
            name_prefix="warm_job1",
        )
        .toPandas()
        .set_index("doc_id")
    )
    # the dead job's increment merges into the stores...
    merge_fingerprint_index(spark, fp_path, _docs_df(spark, batch_a))
    merge_band_index(spark, band_path, _docs_df(spark, batch_a))

    # --- job 2: a RESTART (fresh sinks = fresh state) over batch B
    b_path = _write_batches(tmp_path, "b_stream", [batch_b])
    got_b = (
        warm_start_ingest_dedup(
            _stream_of(spark, b_path),
            _docs_df(spark, batch_b),
            read_fp(),
            read_band_index(spark, band_path),
            name_prefix="warm_job2",
        )
        .toPandas()
        .set_index("doc_id")
    )

    ref = _ref_verdicts(CRAFTED, 100)
    got = pd.concat([got_a, got_b]).sort_index()
    assert len(got) == len(ref)
    for d, (v, c) in ref.items():
        assert got.loc[d, "verdict"] == v, d
        assert got.loc[d, "canonical_doc_id"] == c, d
    # job 2 really caught the cross-job duplicates through the index
    assert got_b.loc[102, "verdict"] == "exact_dup"
    assert got_b.loc[102, "canonical_doc_id"] == 101
    assert got_b.loc[104, "verdict"] == "near_dup"
