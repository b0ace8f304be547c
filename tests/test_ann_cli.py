"""ANN lifecycle CLI over the index-root deployment layer: day-1
bootstrap, day-2 append, answers equal a fresh build under the store's
own pinned models, replay idempotence, RECLUSTER rebuild + atomic
pointer swap (pinned readers keep the old version), vacuum reclaim at
both levels, query output wiring, arg validation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.ann_prep import run_ann_batch
from flink_exercise_spark.operators import manifest as mft
from flink_exercise_spark.operators.ann_store import (
    ann_root_current,
    ann_root_path,
    query_ann_index,
    read_ann_meta,
    write_ann_index,
)
from flink_exercise_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

N_CELLS = 8


@pytest.fixture(scope="module")
def corpus_paths(spark, tmp_path_factory):
    """Two daily drops + a query relation, all parquet."""
    root = tmp_path_factory.mktemp("ann_cli")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    split = ids[len(ids) // 2]
    emb.filter(F.col("vec_id") < split).write.parquet(str(root / "day1"))
    emb.filter(F.col("vec_id") >= split).write.parquet(str(root / "day2"))
    (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .write.parquet(str(root / "queries"))
    )
    return root


def _q(spark, root):
    return spark.read.parquet(str(root / "queries"))


def _answers(spark, index_path, queries, k=3):
    return sorted(
        tuple(r)
        for r in query_ann_index(spark, index_path, queries, k=k).collect()
    )


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps test_ann_store's operator-level twins of the same contracts
@pytest.mark.slow
def test_bootstrap_then_append_equals_fresh_build(
    spark, corpus_paths, tmp_path
):
    root = str(tmp_path / "root")
    s1 = run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS
    )
    assert s1["mode"] == "bootstrap" and s1["n_corpus"] > 0
    assert s1["index_version"] == 1 == ann_root_current(root)
    s2 = run_ann_batch(spark, str(corpus_paths / "day2"), root)
    assert s2["mode"] == "append" and s2["index_version"] == 1
    assert 0 < s2["codes_partitions_rewritten"] <= N_CELLS

    # a fresh index over day1 ∪ day2 under the SAME pinned models (the
    # live version's own centroids + books) must answer identically
    live = ann_root_path(root)
    cents = mft.versioned_read(spark, os.path.join(live, "centroids"))
    books = mft.versioned_read(spark, os.path.join(live, "books"))
    union = spark.read.parquet(
        str(corpus_paths / "day1"), str(corpus_paths / "day2")
    )
    fresh = str(tmp_path / "fresh")
    write_ann_index(
        union,
        fresh,
        n_queries=0,
        n_cells=N_CELLS,
        codebook=cents.select("cell_id", "cent"),
        pq_books=books.select("subspace", "code", "codeword"),
    )
    queries = _q(spark, corpus_paths)
    got = _answers(spark, live, queries)
    assert got == _answers(spark, fresh, queries) and len(got) > 0


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps test_ann_store's operator-level twins of the same contracts
@pytest.mark.slow
def test_append_replay_idempotent_and_vacuum_reclaims(
    spark, corpus_paths, tmp_path
):
    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS
    )
    s2 = run_ann_batch(spark, str(corpus_paths / "day2"), root)
    queries = _q(spark, corpus_paths)
    before = _answers(spark, ann_root_path(root), queries)
    # replay day 2 verbatim: merge-on-key, nothing changes
    s3 = run_ann_batch(spark, str(corpus_paths / "day2"), root)
    assert s3["n_corpus"] == s2["n_corpus"]
    assert _answers(spark, ann_root_path(root), queries) == before
    # vacuum via the CLI path: superseded append files reclaimed,
    # current answers untouched
    s4 = run_ann_batch(
        spark, str(corpus_paths / "day2"), root, vacuum_keep=1
    )
    assert s4["vacuum"]["files_deleted"] > 0
    assert _answers(spark, ann_root_path(root), queries) == before


def test_rebuild_swaps_pointer_and_pinned_reader_survives(
    spark, corpus_paths, tmp_path
):
    """--rebuild is the recluster: a WHOLE new index version (fresh
    centroids from the full corpus) lands beside the old one and the
    pointer swaps atomically; a reader that resolved v1 keeps
    answering from it until the root vacuum reclaims old versions."""
    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS
    )
    run_ann_batch(spark, str(corpus_paths / "day2"), root)
    queries = _q(spark, corpus_paths)
    v1_path = ann_root_path(root)
    v1_before = _answers(spark, v1_path, queries)

    # recluster from the union drop (what a real rebuild ingests)
    union_drop = str(tmp_path / "union")
    spark.read.parquet(
        str(corpus_paths / "day1"), str(corpus_paths / "day2")
    ).write.parquet(union_drop)
    s = run_ann_batch(
        spark, union_drop, root, rebuild=True, n_cells=N_CELLS
    )
    assert s["mode"] == "rebuild" and s["index_version"] == 2
    assert ann_root_current(root) == 2
    live = ann_root_path(root)
    assert live != v1_path
    # fresh-centroid index answers the same queries (values may differ
    # from v1's append-path models; the contract is a complete answer
    # set from the new version and an untouched old one)
    got = _answers(spark, live, queries)
    assert len(got) == len(v1_before) > 0
    assert _answers(spark, v1_path, queries) == v1_before  # pinned
    assert read_ann_meta(live)["n_corpus"] == s["n_corpus"]

    # root vacuum reclaims v1 (keep 1), live answers unchanged
    s2 = run_ann_batch(
        spark, union_drop, root, rebuild=True, vacuum_keep=1,
        n_cells=N_CELLS,
    )
    assert s2["index_version"] == 3
    assert s2["vacuum_root"]["versions_deleted"] >= 1
    assert not os.path.exists(v1_path)
    assert len(_answers(spark, ann_root_path(root), queries)) == len(got)


def test_query_output_written(spark, corpus_paths, tmp_path):
    root = str(tmp_path / "root")
    out = str(tmp_path / "res")
    s = run_ann_batch(
        spark,
        str(corpus_paths / "day1"),
        root,
        queries_path=str(corpus_paths / "queries"),
        output_path=out,
        k=3,
        n_cells=N_CELLS,
    )
    assert s["n_result_rows"] == 5 * 3  # five queries, k=3 each
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = _answers(spark, ann_root_path(root), _q(spark, corpus_paths))
    assert got == want
    assert read_ann_meta(ann_root_path(root))["n_cells"] == N_CELLS


def test_queries_requires_output():
    from flink_exercise_spark.ann_prep import main

    with pytest.raises(SystemExit):
        main(["--input", "/x", "--index", "/y", "--queries", "/q"])


def test_root_vacuum_reclaims_crashed_rebuild_debris(
    spark, corpus_paths, tmp_path
):
    """An unpublished version directory (crash before the pointer
    swap) is unreachable by any reader and must be reclaimed by the
    root vacuum without touching the live version."""
    import shutil

    from flink_exercise_spark.operators.ann_store import vacuum_ann_root

    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS
    )
    live = ann_root_path(root)
    debris = os.path.join(root, "v00000002")  # never published
    shutil.copytree(live, debris)
    # Fresh unpublished directories are indistinguishable from a
    # rebuild mid-write in another process, so the default age gate
    # must SPARE them (r11 ADVICE: nothing enforces single-writer).
    stats = vacuum_ann_root(root, keep_versions=1)
    assert stats["versions_deleted"] == 0
    assert os.path.exists(debris)
    # Past the age gate the debris is reclaimable; min_age=0 is the
    # caller's "no rebuild is running" assertion.
    stats = vacuum_ann_root(root, keep_versions=1, debris_min_age_s=0.0)
    assert stats["versions_deleted"] == 1
    assert not os.path.exists(debris) and os.path.exists(live)
    assert ann_root_current(root) == 1


def test_rebuild_with_kmeans_iters_trains_the_codebook(
    spark, corpus_paths, tmp_path
):
    """--kmeans-iters wires clustering.kmeans_centroids in as the
    coarse codebook: the CLI rebuild must answer exactly like a
    write_ann_index handed the same trained centroids (kmeans is
    deterministic: fixed init from the k lowest vec_ids), and differ
    from the deterministic-codebook build only in the model, never
    the contract."""
    from flink_exercise_spark.operators.clustering import (
        kmeans_centroids,
    )

    root = str(tmp_path / "root_kmeans")
    s = run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS,
        kmeans_iters=2,
    )
    assert s["mode"] == "bootstrap" and s["kmeans_iters"] == 2
    emb = spark.read.parquet(str(corpus_paths / "day1"))
    twin = str(tmp_path / "twin")
    write_ann_index(
        emb, twin, n_queries=0, n_cells=N_CELLS,
        codebook=kmeans_centroids(emb, k=N_CELLS, iters=2),
        assign_kernel=True, encode_kernel=True,
    )
    queries = _q(spark, corpus_paths)
    assert _answers(spark, ann_root_path(root), queries) == _answers(
        spark, twin, queries
    )


def test_kmeans_iters_on_append_fails_loud(spark, corpus_paths, tmp_path):
    """--kmeans-iters without --rebuild against an existing index must
    raise, not silently append with the pinned models (code-review
    r12: the operator believes a recluster happened, recall stays at
    its decayed level)."""
    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS
    )
    with pytest.raises(ValueError, match="only applies to a bootstrap"):
        run_ann_batch(
            spark, str(corpus_paths / "day2"), root, kmeans_iters=3
        )


def test_root_vacuum_age_gate_sees_deep_write_activity(
    spark, corpus_paths, tmp_path
):
    """The debris age gate must key off the deepest write activity,
    not the version directory's own mtime: a rebuild streaming part
    files into cell directories never bumps the version root, so a
    root-mtime gate would delete a live rebuild mid-write (code-review
    r12)."""
    import shutil
    import time

    from flink_exercise_spark.operators.ann_store import vacuum_ann_root

    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(corpus_paths / "day1"), root, n_cells=N_CELLS
    )
    debris = os.path.join(root, "v00000002")
    shutil.copytree(ann_root_path(root), debris)
    # age every directory 7 hours into the past...
    old = time.time() - 7 * 3600
    for dirpath, _dirnames, _files in os.walk(debris):
        os.utime(dirpath, (old, old))
    # ...then simulate an in-flight rebuild writing DEEP inside a cell
    # directory (touches only that directory's mtime)
    cell_dirs = [
        os.path.join(dp, d)
        for dp, dns, _ in os.walk(os.path.join(debris, "codes"))
        for d in dns
        if d.startswith("cell_id=")
    ]
    assert cell_dirs, "fixture store has no cell directories"
    with open(os.path.join(cell_dirs[0], "part-inflight.parquet"), "wb"):
        pass
    stats = vacuum_ann_root(root, keep_versions=1)
    assert stats["versions_deleted"] == 0 and os.path.exists(debris)
    # once the deep activity is old too, the debris is reclaimable
    for dirpath, _dirnames, _files in os.walk(debris):
        os.utime(dirpath, (old, old))
    stats = vacuum_ann_root(root, keep_versions=1)
    assert stats["versions_deleted"] == 1 and not os.path.exists(debris)


# --- recall-decay probe (r13: the SCALE.md decision rule productized) --------


@pytest.fixture(scope="module")
def drifted_paths(spark, tmp_path_factory):
    """The recluster-bench geometry, miniaturized: 200 base vectors in
    8 tight well-separated clusters (vec_id i -> cluster i%8, so the
    deterministic first-8 codebook seeds every cluster), plus 40
    appended vectors forming 8 FAR-drifted 5-member modes at ids
    10M+ — the cohort whose true neighbors are fellow appends and
    whose residuals the pinned PQ books cannot represent."""
    root = tmp_path_factory.mktemp("ann_probe")
    dims = 8
    base_rows = []
    for i in range(200):
        c = i % 8
        v = [0.0] * dims
        v[c] = 10.0
        # deterministic jitter, all pairwise-distinct distances
        v[(c + 1) % dims] += (i % 13) * 0.01
        v[(c + 3) % dims] += (i % 7) * 0.015
        base_rows.append((i, v))
    append_rows = []
    vid = 10_000_000
    for m in range(8):
        # the bench's drift-6 regime: each mode sits at distance ~6
        # from its parent cluster — comparable to the inter-cluster
        # scale, so a trained rebuild CAN earn the mode its own cell
        # while the pinned store's residuals for it are ~60x the base
        # noise (PQ-resolution decay, the measured failure mode)
        center = [0.0] * dims
        center[m] = 10.0
        center[(m + 4) % dims] = 6.0
        for j in range(5):
            v = list(center)
            v[(m + 1) % dims] += j * 0.01
            v[(m + 5) % dims] += ((j * 3) % 5) * 0.012
            append_rows.append((vid, v))
            vid += 1
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(base_rows, schema).write.parquet(
        str(root / "base")
    )
    spark.createDataFrame(append_rows, schema).write.parquet(
        str(root / "append")
    )
    spark.createDataFrame(base_rows + append_rows, schema).write.parquet(
        str(root / "union")
    )
    return root


# slow (r13 suite-trim): full bootstrap/append/rebuild cycles through the CLI
# path — the test_ann_cli heavy-lifecycle convention; the default loop keeps
# the empty-cohort guard and test_ann_store's operator-level twins
@pytest.mark.slow
def test_probe_recall_flags_decay_and_clears_after_recluster(
    spark, drifted_paths, tmp_path
):
    """The productized monitor must reproduce the recluster decision
    record's shape end to end: append drifted modes -> probe reports
    decayed recall + rebuild_recommended; kmeans rebuild -> the same
    probe on the same cohort reports recovered recall and no
    recommendation. Settings mirror the bench's sub-covering
    shortlist (the regime where PQ-resolution decay is visible)."""
    from flink_exercise_spark.operators.ann_store import (
        probe_appended_recall,
    )

    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(drifted_paths / "base"), root, n_cells=N_CELLS
    )
    s = run_ann_batch(
        spark, str(drifted_paths / "append"), root,
        k=3, shortlist=4,
        probe_recall=True, probe_sample=40, probe_threshold=0.8,
    )
    assert s["mode"] == "append"
    pinned = s["probe"]
    assert pinned["n_sample"] == 40 and pinned["k"] == 3
    assert pinned["rebuild_recommended"] is True
    assert pinned["recall"] < 0.8

    run_ann_batch(
        spark, str(drifted_paths / "union"), root, rebuild=True,
        n_cells=16, kmeans_iters=4,
    )
    rebuilt = probe_appended_recall(
        spark, ann_root_path(root),
        spark.read.parquet(str(drifted_paths / "append")),
        n_sample=40, k=3, shortlist=4, threshold=0.8,
    )
    assert rebuilt["recall"] > pinned["recall"]
    assert rebuilt["recall"] >= 0.8
    assert rebuilt["rebuild_recommended"] is False


# slow (r13 suite-trim): full bootstrap/append/rebuild cycles through the CLI
# path — the test_ann_cli heavy-lifecycle convention; the default loop keeps
# the empty-cohort guard and test_ann_store's operator-level twins
@pytest.mark.slow
def test_probe_recall_exactness_under_exhaustive_settings(
    spark, drifted_paths, tmp_path
):
    """Structural pin of the probe's two sides: with every cell probed
    and a covering shortlist the store query IS brute force, so the
    probe must report recall exactly 1.0 — any disagreement (self
    handling, tie order, metric) would break this identity."""
    from flink_exercise_spark.operators.ann_store import (
        probe_appended_recall,
    )

    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(drifted_paths / "base"), root, n_cells=N_CELLS
    )
    run_ann_batch(spark, str(drifted_paths / "append"), root)
    res = probe_appended_recall(
        spark, ann_root_path(root),
        spark.read.parquet(str(drifted_paths / "append")),
        n_sample=16, k=3, n_probe=N_CELLS, shortlist=1000,
    )
    assert res["recall"] == 1.0
    assert res["rebuild_recommended"] is False


def test_probe_recall_empty_cohort_fails_loud(spark, drifted_paths, tmp_path):
    from flink_exercise_spark.operators.ann_store import (
        probe_appended_recall,
    )

    root = str(tmp_path / "root")
    run_ann_batch(
        spark, str(drifted_paths / "base"), root, n_cells=N_CELLS
    )
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty appended cohort"):
        probe_appended_recall(spark, ann_root_path(root), empty)
