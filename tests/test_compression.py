"""int8 embedding compression: quantization error bounds, the
compressed-store schema (the 8x claim), equality of knn_ivf_int8 with
knn_ivf under an adequate shortlist, recall under tight shortlists,
and the plan contract (broadcast model, no cartesian, no Python)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.operators.compression import (
    INT8_MAX,
    dequantize_expr,
    int8_scales,
    knn_ivf_int8,
    pq_codebooks,
    quantize_int8,
)
from flink_exercise_spark.operators.similarity import knn_ivf
from flink_exercise_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_scales_match_numpy(spark, emb):
    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    got = {
        r["dim"]: r["scale"] for r in int8_scales(emb).collect()
    }
    want = np.abs(M).max(axis=0) / INT8_MAX
    assert set(got) == set(range(M.shape[1]))
    for d in range(M.shape[1]):
        assert got[d] == pytest.approx(
            want[d] if want[d] > 0 else 1.0, rel=1e-12
        )


def test_quantization_error_bounded_and_schema(spark, emb):
    """|v - q*s| <= s/2 per dimension (round-to-nearest), qvec is
    TINYINT (the 8x storage claim vs float64), norm is the exact
    float norm."""
    scales = int8_scales(emb)
    store = quantize_int8(emb, scales)
    schema = dict(store.dtypes)
    assert schema["qvec"] == "array<tinyint>"
    assert schema["norm"] == "double"

    s_arr = np.array(
        [r["scale"] for r in scales.orderBy("dim").collect()]
    )
    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    M = {
        int(r["vec_id"]): np.asarray(r["embedding"], np.float64)
        for _, r in pdf.iterrows()
    }
    rows = store.collect()
    assert len(rows) == len(M)
    for r in rows:
        v = M[r["vec_id"]]
        q = np.array(r["qvec"], dtype=np.int64)
        assert np.abs(q).max() <= INT8_MAX
        err = np.abs(v - q * s_arr)
        assert (err <= s_arr / 2 + 1e-12).all()
        assert r["norm"] == pytest.approx(float(np.sqrt((v * v).sum())))


def test_quantize_int8_custom_id_col(spark, emb):
    """The id_col parameter (r8 ADVICE) actually works end to end —
    a renamed id column flows through to the store schema."""
    renamed = emb.withColumnRenamed("vec_id", "item_id")
    store = quantize_int8(
        renamed, int8_scales(renamed), id_col="item_id"
    )
    assert store.columns == ["item_id", "qvec", "norm"]
    assert store.count() == emb.count()


def test_dequantize_roundtrip_cosine_close(spark, emb):
    """Reconstructed vectors approximate the originals well enough
    that per-vector cosine(original, dequantized) > 0.999 — the
    precision the shortlist ranking rides on."""
    scales = int8_scales(emb)
    store = quantize_int8(emb, scales)
    from flink_exercise_spark.operators.compression import _scales_array

    joined = (
        store.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(_scales_array(scales)))
        .select(
            "vec_id",
            dequantize_expr("qvec", "_scales").alias("deq"),
            "embedding",
        )
    )
    rows = joined.collect()
    for r in rows:
        a = np.array(r["deq"])
        b = np.array(r["embedding"])
        cos = (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
        assert cos > 0.999, r["vec_id"]


def test_equals_knn_ivf_with_covering_shortlist(spark, emb):
    """With a shortlist covering every probed candidate, the int8 path
    must reproduce knn_ivf row for row (same probed cells, exact
    re-score, same deterministic tie-breaks)."""
    n_corpus = emb.count()
    a = sorted(tuple(r) for r in knn_ivf(emb, k=3).collect())
    b = sorted(
        tuple(r)
        for r in knn_ivf_int8(emb, k=3, shortlist=n_corpus).collect()
    )
    assert a == b and len(a) > 0


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the covering-shortlist equalities and the bit-equal kernel pins
@pytest.mark.slow
def test_recall_improves_with_shortlist(spark, emb):
    """Tight shortlists trade recall for float-store reads; recall@k
    vs knn_ivf must be high at the default and monotone-ish in the
    budget (>= at 4x the tight budget on this fixture)."""
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(emb, k=3).collect()
    }

    def recall(short):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in knn_ivf_int8(emb, k=3, shortlist=short).collect()
        }
        return len(got & want) / len(want)

    tight, default = recall(3), recall(12)
    assert default >= tight
    assert default >= 0.9


def test_plan_contract(spark, emb):
    """The scale model broadcasts; the only joins are broadcast or
    equi-joins (no CartesianProduct / BroadcastNestedLoop beyond the
    1-row scale attach); no Python in the plan."""
    plan = (
        knn_ivf_int8(emb, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "BroadcastExchange" in plan


# --- product quantization -----------------------------------------------------


def _pq_numpy(pdf, m, n_codes, n_queries=10):
    """Pure-numpy PQ reference: deterministic codebooks (first n_codes
    corpus vectors' subvector slices), argmin-by-squared-distance codes
    (ties to the lowest code via micro-unit rounding, mirroring the
    packed argmin), and per-query ADC lookup tables."""
    ids = pdf["vec_id"].to_numpy()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    corder = np.argsort(ids)
    ids, M = ids[corder], M[corder]
    cmask = ids >= n_queries
    C, cids = M[cmask], ids[cmask]
    seg = M.shape[1] // m
    books = [
        C[:n_codes, j * seg : (j + 1) * seg] for j in range(m)
    ]  # m x n_codes x seg
    codes = {}
    for vid, v in zip(cids, C):
        cs = []
        for j in range(m):
            sv = v[j * seg : (j + 1) * seg]
            d = ((books[j] - sv) ** 2).sum(axis=1)
            micro = np.round(d * 1e6).astype(np.int64)
            cs.append(int(np.argmin(micro * 256 + np.arange(n_codes))))
        codes[int(vid)] = cs
    return books, codes, (ids, M, cids, C, seg)


def test_pq_encode_matches_numpy(spark, emb):
    from flink_exercise_spark.operators.compression import (
        pq_codebooks,
        pq_encode,
    )

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 10)
    cbs = pq_codebooks(corpus, m=8, n_codes=16)
    got_books = {
        (r["subspace"], r["code"]): np.array(r["codeword"])
        for r in cbs.collect()
    }
    books, codes, _ = _pq_numpy(
        pdf[pdf["vec_id"] >= 10].reset_index(drop=True), 8, 16, n_queries=10
    )
    assert len(got_books) == 8 * 16
    for (j, c), cw in got_books.items():
        np.testing.assert_allclose(cw, books[j][c], rtol=0, atol=0)

    store = pq_encode(corpus, cbs, m=8)
    schema = dict(store.dtypes)
    assert schema["codes"] == "array<tinyint>"
    rows = store.collect()
    assert len(rows) == len(codes)
    for r in rows:
        assert list(r["codes"]) == codes[r["vec_id"]], r["vec_id"]


def test_guards_fail_fast(spark, emb):
    """The silent-corruption inputs raise descriptive errors: an
    oversized IVF codebook (the knn_ivf guard, shared structurally),
    n_codes past the signed-tinyint range, and an m that does not
    divide the vector length."""
    from flink_exercise_spark.operators.compression import (
        pq_codebooks,
        pq_encode,
    )

    huge_cb = spark.range(2**20 + 1).select(
        F.col("id").cast("int").alias("cell_id"),
        F.array(F.lit(1.0)).alias("cent"),
    )
    with pytest.raises(ValueError, match="packed-argmax"):
        knn_ivf_int8(emb, k=3, codebook=huge_cb)

    with pytest.raises(ValueError, match="tinyint"):
        pq_codebooks(emb, m=8, n_codes=200)
    with pytest.raises(ValueError, match="divide"):
        pq_codebooks(emb, m=6, n_codes=16)  # 64 % 6 != 0
    cbs = pq_codebooks(emb, m=8, n_codes=16)
    with pytest.raises(ValueError, match="divide"):
        pq_encode(emb, cbs, m=6)


def test_knn_ivf_pq_equals_knn_ivf_with_covering_shortlist(spark, emb):
    """The composed IVF+PQ search: same probed cells as knn_ivf
    (shared _ivf_assign_probe), ADC pre-rank, exact re-score — with a
    covering shortlist the output must equal knn_ivf row for row."""
    from flink_exercise_spark.operators.compression import knn_ivf_pq

    n_corpus = emb.count()
    a = sorted(tuple(r) for r in knn_ivf(emb, k=3).collect())
    b = sorted(
        tuple(r)
        for r in knn_ivf_pq(emb, k=3, shortlist=n_corpus).collect()
    )
    assert a == b and len(a) > 0


def test_knn_ivf_pq_recall_and_plan(spark, emb):
    from flink_exercise_spark.operators.compression import knn_ivf_pq

    want = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(emb, k=3).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf_pq(emb, k=3, shortlist=48).collect()
    }
    assert len(got & want) / len(want) >= 0.7
    plan = (
        knn_ivf_pq(emb, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the covering-shortlist equalities and the bit-equal kernel pins
@pytest.mark.slow
def test_knn_ivf_pq_trained_models_flow_through(spark, emb):
    """Both models swappable independently: a trained coarse codebook
    (kmeans_centroids) + trained PQ books run the same plan and return
    the contract schema."""
    from flink_exercise_spark.operators.clustering import kmeans_centroids
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq,
        pq_train_codebooks,
    )

    corpus = emb.filter(F.col("vec_id") >= 10)
    coarse = kmeans_centroids(corpus, k=8, iters=2)
    books = pq_train_codebooks(corpus, m=8, n_codes=16, iters=2)
    out = knn_ivf_pq(emb, k=3, codebook=coarse, pq_books=books)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() > 0


def _clustered_emb(
    spark, n_per_cell=12, dims=64, n_cells=8, noise=0.05, dense=False
):
    """Deterministic clustered embeddings — the geometry IVFPQ
    targets: well-separated centers, members = center + small seeded
    perturbation; ids < 10 are queries (perturbed centers too). Cells
    interleave so the deterministic coarse codebook (the FIRST n_cells
    corpus vectors) spans one member of every cluster. ``dense=False``
    uses one-hot centers (clean recall geometry); ``dense=True`` uses
    uniform random centers — inter-center spread in EVERY dim, the
    regime where a 16-code budget cannot encode cluster identity and
    residual encoding pays. The package fixture is structureless
    synthetic noise where residuals have HIGHER variance than raw
    vectors (measured: 0.023 vs 0.016), so residual claims are pinned
    here, on data with the structure the encoding exploits."""
    rng = np.random.RandomState(7)
    if dense:
        centers = rng.uniform(-1, 1, (n_cells, dims))
    else:
        centers = np.zeros((n_cells, dims))
        for cell in range(n_cells):
            centers[cell][(cell % n_cells) * (dims // n_cells)] = 1.0
    rows = []
    vid = 0
    for q in range(10):
        c = centers[q % n_cells]
        rows.append((vid, (c + rng.uniform(-noise, noise, dims)).tolist()))
        vid += 1
    for _ in range(n_per_cell):
        for cell in range(n_cells):
            rows.append(
                (
                    vid,
                    (
                        centers[cell] + rng.uniform(-noise, noise, dims)
                    ).tolist(),
                )
            )
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


# slow (r12 suite-trim): heavy equality re-run; the default loop
# keeps the cheaper covering-shortlist equalities and the store==operator pin
@pytest.mark.slow
def test_knn_ivf_pq_residual_equals_knn_ivf_with_covering_shortlist(
    spark, emb
):
    """Residual encoding changes the approximate RANKING only; the
    exact shortlist re-score is unchanged, so with a covering
    shortlist the output equals knn_ivf row for row (the knn_ivf_pq
    contract, preserved)."""
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq_residual,
    )

    n_corpus = emb.count()
    a = sorted(tuple(r) for r in knn_ivf(emb, k=3).collect())
    b = sorted(
        tuple(r)
        for r in knn_ivf_pq_residual(
            emb, k=3, shortlist=n_corpus
        ).collect()
    )
    assert a == b and len(a) > 0


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the covering-shortlist equalities and the bit-equal kernel pins
@pytest.mark.slow
def test_knn_ivf_pq_residual_recall_dominates_raw_on_clustered_data(
    spark,
):
    """At a tight shortlist budget on clustered data, residual-ADC
    pre-ranking must recall at least as much of knn_ivf's answer set
    as raw-vector ADC — the accuracy the encoding buys where its
    geometry assumption holds."""
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq,
        knn_ivf_pq_residual,
    )

    emb = _clustered_emb(spark)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(emb, n_cells=8, k=3).collect()
    }
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf_pq(
            emb, n_cells=8, k=3, shortlist=12
        ).collect()
    }
    res = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf_pq_residual(
            emb, n_cells=8, k=3, shortlist=12
        ).collect()
    }
    raw_recall = len(raw & want) / len(want)
    res_recall = len(res & want) / len(want)
    assert res_recall >= raw_recall, (res_recall, raw_recall)
    assert res_recall >= 0.9


def test_knn_ivf_pq_residual_plan_no_python_no_cartesian(spark, emb):
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq_residual,
    )

    plan = (
        knn_ivf_pq_residual(emb, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_dims_probe_skips_null_vectors(spark):
    """A NULL embedding in the probed first row must not poison the
    shared dims probe into a None that trips ``None % m`` inside
    _pq_guard (r9 ADVICE): the probe null-filters, and an all-NULL
    column degrades to the empty-input early return."""
    from flink_exercise_spark.operators.compression import (
        _pq_guard,
        _probe_dims,
    )

    mixed = spark.createDataFrame(
        [(0, None), (1, [float(i) for i in range(8)])],
        "vec_id long, embedding array<double>",
    )
    assert _probe_dims(mixed, "embedding") == 8
    _pq_guard(mixed, 4, "embedding")  # divides: no raise
    with pytest.raises(ValueError, match="must divide"):
        _pq_guard(mixed, 3, "embedding")

    all_null = mixed.filter(F.col("embedding").isNull())
    assert _probe_dims(all_null, "embedding") is None
    _pq_guard(all_null, 3, "embedding")  # degrades to empty-input: no raise


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the covering-shortlist equalities and the bit-equal kernel pins
@pytest.mark.slow
def test_ivf_family_assign_kernel_equals_hof(spark, emb):
    """assign_kernel=True must be output-invariant across the whole
    compressed-IVF family (the assignment is bit-identical, so every
    downstream relation is too)."""
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq,
        knn_ivf_pq_residual,
    )

    for fn in (knn_ivf_int8, knn_ivf_pq, knn_ivf_pq_residual):
        a = sorted(tuple(r) for r in fn(emb, k=3).collect())
        b = sorted(
            tuple(r) for r in fn(emb, k=3, assign_kernel=True).collect()
        )
        assert a == b and len(a) > 0, fn.__name__


# --- Arrow encode kernel (r11) -----------------------------------------------


def test_pq_encode_kernel_bit_equal_raw(spark, emb):
    """kernel=True must reproduce the Column-fold store bit for bit —
    codes AND the computed norm (same sequential dim-order sums)."""
    from flink_exercise_spark.operators.compression import pq_encode

    corpus = emb.filter(F.col("vec_id") >= 10)
    books = pq_codebooks(corpus, m=8, n_codes=16)
    hof = sorted(
        (r["vec_id"], tuple(r["codes"]), r["norm"])
        for r in pq_encode(corpus, books, m=8).collect()
    )
    ker = sorted(
        (r["vec_id"], tuple(r["codes"]), r["norm"])
        for r in pq_encode(corpus, books, m=8, kernel=True).collect()
    )
    assert ker == hof and len(ker) > 0


def test_pq_encode_kernel_bit_equal_residual_norm_col(spark, emb):
    """The residual configuration: codes over the resid column, the
    ORIGINAL norm riding through norm_col — kernel equal to the fold."""
    from flink_exercise_spark.operators.compression import (
        pq_encode,
        residual_vectors,
    )
    from flink_exercise_spark.operators.similarity import (
        _ivf_assign_probe,
        _ivf_centroids,
    )

    cents = _ivf_centroids(emb, 10, 8, None)
    corpus, _q, assigned, _p = _ivf_assign_probe(emb, 10, 8, 1, None)
    resid = residual_vectors(corpus, assigned, cents)
    books = pq_codebooks(
        resid.filter(F.col("vec_id") >= 18), m=8, n_codes=16,
        vec_col="resid",
    )
    kw = dict(m=8, vec_col="resid", norm_col="orig_norm")
    hof = sorted(
        (r["vec_id"], tuple(r["codes"]), r["norm"])
        for r in pq_encode(resid, books, **kw).collect()
    )
    ker = sorted(
        (r["vec_id"], tuple(r["codes"]), r["norm"])
        for r in pq_encode(resid, books, kernel=True, **kw).collect()
    )
    assert ker == hof and len(ker) > 0


def test_pq_encode_kernel_tie_breaks_to_lowest_code(spark):
    """Two identical codewords: both paths must pick the LOWER code
    (the packed-argmin tie rule) — the bit-identity contract on exact
    ties, not just generic data."""
    from flink_exercise_spark.operators.compression import pq_encode

    emb2 = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.0, 0.0, 5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    books = spark.createDataFrame(
        [
            (0, 0, [1.0, 2.0]), (0, 1, [1.0, 2.0]), (0, 2, [9.0, 9.0]),
            (1, 0, [5.0, 5.0]), (1, 1, [3.0, 4.0]), (1, 2, [3.0, 4.0]),
        ],
        "subspace int, code int, codeword array<double>",
    )
    for kernel in (False, True):
        got = {
            r["vec_id"]: tuple(r["codes"])
            for r in pq_encode(emb2, books, m=2, kernel=kernel).collect()
        }
        assert got[1] == (0, 1), kernel  # ties 0/1 -> 0; exact hit 1
        assert got[2][1] == 0, kernel


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the covering-shortlist equalities and the bit-equal kernel pins
@pytest.mark.slow
def test_knn_ivf_pq_residual_encode_kernel_end_to_end(spark, emb):
    """The composed operators with encode_kernel=True answer row for
    row what the fold path answers — tight AND covering shortlists."""
    from flink_exercise_spark.operators.compression import (
        knn_ivf_pq,
        knn_ivf_pq_residual,
    )

    for op in (knn_ivf_pq, knn_ivf_pq_residual):
        for shortlist in (8, emb.count()):
            want = sorted(
                tuple(r) for r in op(emb, k=3, shortlist=shortlist).collect()
            )
            got = sorted(
                tuple(r)
                for r in op(
                    emb, k=3, shortlist=shortlist, encode_kernel=True
                ).collect()
            )
            assert got == want and len(got) > 0, (op.__name__, shortlist)


def test_round_half_up_int_matches_spark_round0(spark):
    from flink_exercise_spark.operators.compression import (
        _round_half_up_int,
    )

    vals = [0.5, 1.5, 2.5, -0.5, -1.5, 3.49999, 3.5000001, 1e8 + 0.5,
            0.0, 7.0, 123456.5]
    got = list(_round_half_up_int(np.array(vals)))
    want = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 0).alias("r"))
        .collect()
    ]
    assert got == want


def test_pq_encode_kernel_rejects_sparse_codebook(spark):
    """A trained book with a dropped (subspace, code) entry would
    leave a phantom all-zero codeword in the kernel's dense matrix —
    the bit-identity contract requires failing loud instead."""
    from flink_exercise_spark.operators.compression import pq_encode

    emb2 = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    sparse = spark.createDataFrame(
        [  # subspace 1 is missing code 1
            (0, 0, [1.0, 2.0]), (0, 1, [9.0, 9.0]),
            (1, 0, [3.0, 4.0]),
        ],
        "subspace int, code int, codeword array<double>",
    )
    with pytest.raises(ValueError, match="dense"):
        pq_encode(emb2, sparse, m=2, kernel=True).collect()
