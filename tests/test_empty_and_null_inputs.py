"""Degenerate-input sweep: every core operator must handle an EMPTY
relation (0 rows, correct schema) and NULL text/embedding payloads
without crashing — the inputs a real 100 TB pipeline hits on day one
(an empty partition, a scraped doc with no body). Documents the
behavior instead of leaving it implementation-defined."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

DOC_SCHEMA = "doc_id long, text string, lang string, source string"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_dedup_ops_on_empty_corpus(spark):
    from flink_exercise_spark.operators import dedup

    docs = _empty(spark, DOC_SCHEMA)
    assert dedup.exact_dedup_map(docs).count() == 0
    assert dedup.minhash_signatures(docs).count() == 0
    assert dedup.minhash_band_pairs(docs).count() == 0
    assert dedup.jaccard_pairs(docs).count() == 0
    assert dedup.lsh_verified_pairs(docs).count() == 0
    assert dedup.near_dup_clusters(docs).count() == 0
    assert dedup.simhash_near_pairs(docs).count() == 0


def test_similarity_ops_on_empty_corpus(spark):
    from flink_exercise_spark.operators import similarity

    emb = _empty(spark, EMB_SCHEMA)
    assert similarity.embedding_near_dup_pairs(emb).count() == 0
    # knn over an empty corpus: no neighbors, not a crash
    assert similarity.knn_brute_force(emb, n_queries=3, k=3).count() == 0


def test_aggregates_on_empty_events(spark):
    from flink_exercise_spark.operators import aggregates

    ev = _empty(spark, EV_SCHEMA)
    assert aggregates.requests_per_host(ev).count() == 0
    assert aggregates.top_host_per_window(ev).count() == 0
    assert aggregates.top_host_per_window_any_key(ev).count() == 0
    assert aggregates.windowed_floor_avg(ev).count() == 0


def test_r5_operators_on_empty_events(spark):
    from flink_exercise_spark.operators.asof import range_join_counts
    from flink_exercise_spark.operators.timeseries import (
        pattern_search_bucketed,
    )
    from flink_exercise_spark.operators.windows import hypertable_rollup

    ev = _empty(spark, EV_SCHEMA)
    assert range_join_counts(ev).count() == 0
    assert pattern_search_bucketed(ev).count() == 0
    # Documented divergence on EMPTY input: standard SQL (and the
    # DuckDB oracle) emits the grand-total row (count 0) for ROLLUP of
    # an empty relation; Spark's rollup() emits no rows at all
    # (SPARK's grouping-sets-as-Expand implementation has nothing to
    # expand). Irrelevant for any non-empty partition — pinned here so
    # the difference is a recorded fact, not a surprise.
    assert hypertable_rollup(ev).count() == 0


def test_vectorized_near_dup_on_empty_corpus(spark):
    from flink_exercise_spark.operators.similarity import (
        embedding_near_dup_pairs_vectorized,
    )

    emb = _empty(spark, EMB_SCHEMA)
    assert embedding_near_dup_pairs_vectorized(emb).count() == 0


def test_kmeans_empty_corpus_raises(spark):
    from flink_exercise_spark.operators.clustering import kmeans_fit_predict

    with pytest.raises(ValueError, match="empty corpus"):
        kmeans_fit_predict(_empty(spark, EMB_SCHEMA), k=3).count()


def test_clf_parse_empty_and_all_invalid(spark):
    from flink_exercise_spark.sources.clf import (
        invalid_lines,
        parse_clf,
        valid_lines,
    )

    empty = _empty(spark, "value string")
    assert valid_lines(parse_clf(empty)).count() == 0
    junk = spark.createDataFrame([("x",), ("",), ("garbage here",)], ["value"])
    assert valid_lines(parse_clf(junk)).count() == 0
    assert invalid_lines(parse_clf(junk)).count() == 3


def test_null_text_documents(spark):
    """NULL text: exact dedup groups NULLs under a NULL hash; the
    shingle pipeline drops them (no tokens); text stats emit NULL
    metrics rather than crashing."""
    from flink_exercise_spark.operators import dedup
    from flink_exercise_spark.operators.text import text_stats

    rows = [(1, None, "en", "s0"), (2, "some real text here ok", "en", "s0")]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    m = dedup.exact_dedup_map(docs)
    assert m.count() == 2  # NULL-hash group + real group
    assert dedup.minhash_signatures(docs).count() == 1  # null doc has no shingles
    stats = text_stats(docs)
    assert stats.count() == 2


def test_a4_approx_distinct_within_rsd(spark):
    """The rows-only HLL query's sole correctness check: the estimate
    must sit within ~3x the configured 1% relative standard deviation
    of the exact distinct count (ADVICE r2: rows-only operators need
    strong unit invariants)."""
    from flink_exercise_spark.registry import specs

    est = specs()["a4_approx_distinct_hosts"].fn(spark, SF_SMOKE).collect()[0][
        "n_unique_users_approx"
    ]
    from flink_exercise_spark.sources.tables import load_table

    exact = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id").distinct().count()
    )
    assert abs(est - exact) <= max(3, 0.03 * exact), (est, exact)


def test_r6_text_ops_on_empty_and_null(spark):
    from flink_exercise_spark.operators.text import (
        repetition_stats,
        scrub_pii,
        top_ngram_ratio_exploded,
    )

    empty = _empty(spark, DOC_SCHEMA)
    assert repetition_stats(empty).count() == 0
    assert scrub_pii(empty).count() == 0
    assert top_ngram_ratio_exploded(empty).count() == 0

    nulls = spark.createDataFrame(
        [(1, None, "en", "s"), (2, "", "en", "s")], DOC_SCHEMA
    )
    rep = repetition_stats(nulls).toPandas().set_index("doc_id")
    # NULL text -> the guards resolve to the 0.0 branch (documented,
    # matches the oracle's CASE semantics); empty text has no lines
    # and no bigrams.
    assert rep.loc[1, "dup_line_ratio"] == 0.0
    assert rep.loc[1, "top_bigram_ratio"] == 0.0
    assert rep.loc[2, "dup_line_ratio"] == 0.0
    assert rep.loc[2, "top_bigram_ratio"] == 0.0
    pii = scrub_pii(nulls).toPandas().set_index("doc_id")
    assert pii.loc[2, "scrubbed_text"] == ""


def test_packing_on_empty_and_null(spark):
    from flink_exercise_spark.operators.packing import pack_chunks

    empty = _empty(spark, DOC_SCHEMA)
    assert pack_chunks(empty).count() == 0
    # NULL-text and zero-token docs are excluded by contract (nothing
    # to place in the token stream); the rest still pack from offset 0.
    mixed = spark.createDataFrame(
        [(1, None, "en", "s"), (2, "", "en", "s"), (3, "two words", "en", "s")],
        DOC_SCHEMA,
    )
    out = pack_chunks(mixed).toPandas()
    assert list(out["doc_id"]) == [3]
    assert out["start_tok"].iloc[0] == 0 and out["n_tok"].iloc[0] == 2


def test_decontaminate_on_empty_and_null(spark):
    from flink_exercise_spark.operators.pipeline import decontaminate

    docs = _empty(spark, DOC_SCHEMA)
    assert decontaminate(docs).count() == 0
    # NULL text tokenizes to no n-grams on either side; never flagged.
    nulls = spark.createDataFrame(
        [(1, None, "en", "web"), (2, None, "en", "web")], DOC_SCHEMA
    )
    assert decontaminate(nulls).count() == 0


def test_r9_incremental_dedup_on_empty_inputs(spark):
    """Empty increment / empty index / both: no crash, correct shape;
    an empty index classifies a non-trivial increment as all-new (up
    to within-increment duplicates)."""
    from flink_exercise_spark.operators.incremental import (
        band_index,
        fingerprint_index,
        incremental_dedup,
        updated_band_index,
        updated_fingerprint_index,
    )

    empty = _empty(spark, DOC_SCHEMA)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta", "en", "w"),
            (2, "alpha beta gamma delta epsilon zeta eta", "en", "w"),
            (3, None, "en", "w"),
        ],
        DOC_SCHEMA,
    )
    fp_e, bi_e = fingerprint_index(empty), band_index(empty)
    # empty increment against a real index
    assert incremental_dedup(
        empty, fingerprint_index(docs), band_index(docs)
    ).count() == 0
    # real increment against an empty index: doc 1 new, 2 exact of 1,
    # NULL-text 3 new
    out = {
        r["doc_id"]: (r["verdict"], r["canonical_doc_id"])
        for r in incremental_dedup(docs, fp_e, bi_e).collect()
    }
    assert out == {
        1: ("new", 1),
        2: ("exact_dup", 1),
        3: ("new", 3),
    }
    # index updates from empty sides are total
    assert updated_fingerprint_index(fp_e, empty).count() == 0
    assert updated_band_index(bi_e, empty).count() == 0
    assert (
        updated_fingerprint_index(fp_e, docs).count()
        == fingerprint_index(docs).count()
    )


def test_r9_ngram_lm_on_empty_and_degenerate(spark):
    """Empty corpus: model relations are empty, scoring an empty
    corpus yields zero rows; scoring real docs with an EMPTY model
    resolves every bigram to the (NULL) fallback chain — sums are
    NULL-safe zero, not a crash."""
    from flink_exercise_spark.operators.ngram_lm import (
        bigram_lm,
        doc_logprob,
        score_with_lm,
    )

    empty = _empty(spark, DOC_SCHEMA)
    lm, pf, ov = bigram_lm(empty)
    assert lm.count() == 0 and pf.count() == 0
    assert doc_logprob(empty).count() == 0

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "w"), (2, None, "en", "w")], DOC_SCHEMA
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["sum_logp_micronats"])
        for r in score_with_lm(docs, lm, pf, ov).collect()
    }
    # empty model: V=0 so even the uniform fallback is undefined —
    # the documented degenerate case; the contract is one row per doc
    # with the bigram COUNT intact and a NULL-safe zero sum, never a
    # crash or a dropped document
    assert set(out) == {1, 2}
    assert out[2] == (0, 0)
    assert out[1][0] == 2


def test_r10_backoff_lm_on_empty_and_degenerate(spark):
    """Trigram stupid backoff, same degenerate contract as the bigram
    LM: empty corpus -> empty model relations and zero scored rows;
    scoring real docs with an EMPTY model (N=0: even the OOV floor is
    try_divide-NULL) keeps one row per doc with the trigram count
    intact and a NULL-safe zero sum."""
    from flink_exercise_spark.operators.ngram_lm import (
        backoff_trigram_lm,
        score_with_backoff,
    )

    empty = _empty(spark, DOC_SCHEMA)
    t3, b2, u1, ov = backoff_trigram_lm(empty)
    assert t3.count() == 0 and b2.count() == 0 and u1.count() == 0
    assert score_with_backoff(empty, t3, b2, u1, ov).count() == 0

    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "w"), (2, None, "en", "w"), (3, "", "en", "w")],
        DOC_SCHEMA,
    )
    out = {
        r["doc_id"]: (r["n_trigrams"], r["sum_logp_micronats"])
        for r in score_with_backoff(docs, t3, b2, u1, ov).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1][0] == 2 and out[2] == (0, 0) and out[3] == (0, 0)


def test_multimodal_front_door_empty_and_null_payloads(spark):
    """The r12 front door on degenerate inputs: an empty corpus yields
    the empty pairs relation (no kernel crash on zero batches), and
    NULL payloads never pair with each other — md5(NULL) is NULL and
    equi-join keys drop NULLs, so two NULL-payload docs are NOT 'exact
    duplicates' of one another (pinned deliberately: a NULL payload is
    absent content, not empty content)."""
    from flink_exercise_spark.operators.mm_dedup import (
        multimodal_dup_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    out = multimodal_dup_pairs(empty, video_stride=1)
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b", "modality", "evidence"]

    nulls = spark.createDataFrame(
        [(1, None), (2, None), (3, b"same"), (4, b"same")],
        "doc_id long, payload binary",
    )
    got = sorted(tuple(r) for r in multimodal_dup_pairs(nulls).collect())
    assert got == [(3, 4, "other", 0)]


def test_video_ops_on_empty_corpus(spark):
    from flink_exercise_spark.operators.video_dedup import (
        video_landmarks,
        video_neardup_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    lm = video_landmarks(empty, stride=1)
    assert lm.count() == 0
    assert video_neardup_pairs(lm).count() == 0
