"""int8 embedding compression for the ANN family (VERDICT r7 ask #8).

At 100 TB the embedding STORE, not the probe count, is the bill:
IVF-flat (similarity.knn_ivf) reads full float64 vectors for every
probed candidate. Symmetric per-dimension int8 scalar quantization
cuts the probed bytes 8x (64-dim float64 512 B -> 64 B + one stored
float norm) while keeping the FINAL ranking exact: the quantized store
only selects a per-query SHORTLIST, and the shortlist is re-scored
against the original float vectors — so with an adequate shortlist
the output is row-for-row identical to ``knn_ivf`` (equality-pinned
in tests/test_compression.py; recall-vs-shortlist measured there too).

Shape discipline (the package's standing rules):
- the per-dim scale model is aggregate-sized (dims rows): built with
  one posexplode + hash agg whose partial maxima combine map-side
  (shuffle = partitions x dims rows, never corpus-sized), folded to a
  single array row and BROADCAST — the corpus never reshuffles;
- quantization itself is a shuffle-free zip_with projection;
- the shortlist join back to the float store is a vec_id equi-join of
  a (queries x shortlist)-sized relation against the corpus — AQE
  broadcasts it; no cartesian anywhere (plan-asserted).

Product quantization (PQ: per-subvector codebooks, 16-32x) is the next
compression level on the same seam — the store/score/rescore contract
here is codebook-agnostic, so a PQ store slots in by swapping
``quantize_int8``/``approx_score_expr`` only.

Exactness notes: quantized values are integers in [-127, 127]; the
round-half-up is Spark's ROUND, and the stored ``norm`` is the exact
float norm (functions.vectors.l2_norm_expr fold), so the approximate
cosine's DENOMINATOR is exact — only the dot product carries
quantization error, bounded by scale/2 per dimension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.functions.vectors import l2_norm_expr
from flink_exercise_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _rank_top_k,
)
from flink_exercise_spark.sources.tables import spread

INT8_MAX = 127


def int8_scales(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension symmetric quantization scales: ``(dim, scale)``
    with scale = absmax(dim) / 127 (1.0 for an all-zero dimension so
    quantize/dequantize stay total). Aggregate-sized output; the
    posexplode feeds a two-phase hash agg, so the shuffle carries
    partitions x dims rows regardless of corpus size. Consumers that
    fold this more than once should persist it (caching.py) — each
    fold otherwise re-runs the corpus aggregate."""
    absmax = (
        emb.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.max(F.abs(F.col("v"))).alias("absmax"))
    )
    return absmax.select(
        "dim",
        F.when(F.col("absmax") == 0.0, F.lit(1.0))
        .otherwise(F.col("absmax") / F.lit(float(INT8_MAX)))
        .alias("scale"),
    )


def _scales_array(scales: DataFrame) -> DataFrame:
    """Fold the (dim, scale) model to ONE array row (dim order) for
    broadcasting next to a corpus-sized relation."""
    return scales.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("scale")))
            ),
            lambda s: s["scale"],
        ).alias("_scales")
    )


def quantize_int8(
    emb: DataFrame,
    scales: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The compressed store: ``(id_col, qvec array<tinyint>, norm)``.
    qvec_d = clamp(round(v_d / scale_d)) in [-127, 127]; ``norm`` is
    the EXACT float L2 norm (one double per vector — the standard
    companion so cosine denominators carry no quantization error).
    One broadcast of the 1-row scale array + a zip_with projection:
    zero shuffles on the corpus."""
    with_scales = emb.crossJoin(F.broadcast(_scales_array(scales)))
    q = F.zip_with(
        F.col(vec_col),
        F.col("_scales"),
        lambda v, s: F.greatest(
            F.lit(-INT8_MAX),
            F.least(F.lit(INT8_MAX), F.round(v / s, 0)),
        ).cast("tinyint"),
    )
    return with_scales.select(
        id_col,
        q.alias("qvec"),
        l2_norm_expr(vec_col).alias("norm"),
    )


def dequantize_expr(qvec: Column | str, scales_arr: Column | str) -> Column:
    """Reconstruct approximate floats: q_d * scale_d."""
    q = F.col(qvec) if isinstance(qvec, str) else qvec
    s = F.col(scales_arr) if isinstance(scales_arr, str) else scales_arr
    return F.zip_with(q, s, lambda a, b: a.cast("double") * b)


def approx_cosine_expr(
    qvec: str, scales_arr: str, q_emb: str, c_norm: str, q_norm: str
) -> Column:
    """cos~(candidate, query) = <dequantized, query> / (norm_c *
    norm_q) — numerator approximate (quantization error only),
    denominator exact (stored norms)."""
    dot = F.aggregate(
        F.zip_with(
            dequantize_expr(qvec, scales_arr),
            F.col(q_emb),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (F.col(c_norm) * F.col(q_norm))


def knn_ivf_int8(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    n_cells: int | None = None,
    n_probe: int = 2,
    k: int = TOP_K,
    shortlist: int | None = None,
    codebook: DataFrame | None = None,
    assign_kernel: bool = False,
) -> DataFrame:
    """IVF-flat ANN over the int8-compressed store with exact
    re-scoring: identical probing to ``similarity.knn_ivf`` (the
    deterministic first-``n_cells``-corpus-vectors codebook, or a
    trained one), but probed candidates are PRE-RANKED by the
    quantized approximate cosine and only the per-query top
    ``shortlist`` (default 4k, floor 32) join back to the float store
    for exact scoring — the output contract (query_id, neighbor_id,
    cosine, rank) matches ``knn_ivf`` and EQUALS it whenever the
    shortlist covers the true top-k (guaranteed at shortlist >= cell
    population; measured-recall at tighter budgets in tests).

    100 TB reading: the corpus-sized relation that the probe join
    scans is the 8x-smaller qvec store; the float store is touched
    only by the (queries x shortlist)-row equi-join, which AQE
    broadcasts."""
    if shortlist is None:
        shortlist = max(4 * k, 32)
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    from flink_exercise_spark.caching import persist_tracked
    from flink_exercise_spark.operators.similarity import (
        N_CELLS,
        _ivf_assign_probe,
    )

    corpus_f = spread(emb.filter(F.col("vec_id") >= n_queries), "vec_id")
    # persist the dims-row scale model: quantize_int8 and the q_store
    # attach below both fold it, and without the persist each fold
    # re-runs the corpus-wide posexplode aggregate (code-review r8)
    scales = persist_tracked(int8_scales(corpus_f))
    store = quantize_int8(corpus_f, scales).withColumnRenamed(
        "vec_id", "neighbor_id"
    )

    # Assignment + probing are centroid-vs-vector (model-sized math,
    # full precision exactly as in knn_ivf — quantization must only
    # touch CANDIDATE scoring, where the corpus bytes are): ONE shared
    # implementation (similarity._ivf_assign_probe), so the two
    # operators probe identical cells structurally — including the
    # packed-argmax cell-id-width guard (equality also pinned in
    # tests/test_compression.py).
    corpus, queries, assigned_ids, probes = _ivf_assign_probe(
        emb,
        n_queries,
        N_CELLS if n_cells is None else n_cells,
        n_probe,
        codebook,
        assign_kernel=assign_kernel,
    )

    # APPROXIMATE pass over the COMPRESSED store: the corpus-sized
    # relation here carries qvec (tinyint) + norm, not float vectors.
    q_store = store.join(assigned_ids, "neighbor_id").crossJoin(
        F.broadcast(_scales_array(scales))
    )
    approx = q_store.join(F.broadcast(probes), "cell_id").select(
        "query_id",
        "neighbor_id",
        approx_cosine_expr(
            "qvec", "_scales", "q_emb", "norm", "q_norm"
        ).alias("acos"),
    )
    short = _rank_top_k(approx, shortlist, score_col="acos").select(
        "query_id", "neighbor_id"
    )

    # EXACT re-score of the shortlist against the float store: the
    # shortlist is (queries x shortlist) rows — AQE broadcasts it.
    return _exact_rescore_topk(short, corpus, queries, k)


# --- product quantization (the 64x level on the same seam) -------------------
#
# PQ (Jegou et al. 2011, "Product Quantization for Nearest Neighbor
# Search", IEEE TPAMI): split each vector into M subvectors, quantize
# each against its own n_codes-codeword codebook, store M small codes
# per vector. At M=8 a 64-dim float64 vector (512 B) becomes 8 tinyint
# bytes — 64x (the signed-tinyint store caps n_codes at 128 = 2^7,
# guarded; a 2^8 store would be smallint at 32x). Scoring uses
# asymmetric distance computation (ADC): the QUERY precomputes, per
# subspace, its dot product with every codeword (an M x n_codes lookup
# table, model-sized), so scoring a candidate is M integer lookups +
# adds, never a float vector read.
#
# Spark shape (the int8 rules, one level up):
# - codebooks are model-sized (M x 2^B x dims/M doubles): default
#   deterministic (the first 2^B corpus vectors' subvectors — the
#   knn_ivf default-codebook convention, so tests can restate them);
#   training hook = clustering.kmeans_centroids per subspace;
# - encoding is one broadcast of the codebooks + a per-row argmin —
#   pure Column HOFs (no Python);
# - ADC scoring joins the corpus-sized CODE relation against a
#   broadcast per-query LUT and folds M lookups — the corpus never
#   reshuffles and never reads floats;
# - exactness: like knn_ivf_int8, PQ only RANKS the shortlist; the
#   final top-k re-scores survivors against the float store.


def _probe_dims(df: DataFrame, vec_col: str) -> int | None:
    """ONE LIMIT-1 dims probe, NULL-safe: an arbitrary first row may
    carry a NULL vector (size() -> NULL -> a None that later trips
    ``None % m`` instead of the intended fail-fast — r9 ADVICE), so
    probe the first row with a non-NULL vector. None = empty or
    all-NULL input."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col))
        .limit(1)
        .first()
    )
    return None if row is None else row[0]


def _pq_guard(
    df: DataFrame,
    m: int,
    vec_col: str,
    n_codes: int | None = None,
    dims: int | None = None,
) -> None:
    """Fail fast on the two silent-corruption inputs (code-review r8):
    signed-tinyint codes wrap negative past 128 (ADC would then index
    the LUT from the wrong end), and a non-divisible m makes the
    int-truncated subspace slices skip/overlap dimensions — quality
    degrades with no error. One LIMIT-1 probe for dims — skipped when
    the caller passes an already-probed ``dims`` (a composing operator
    like knn_ivf_pq validates three helpers against ONE driver
    round-trip, r8 ADVICE)."""
    if n_codes is not None and not (0 < n_codes <= 128):
        raise ValueError(
            f"n_codes {n_codes} must be in (0, 128]: codes are stored "
            "as signed tinyint (use a smallint store for 2^8+)"
        )
    if dims is None:
        dims = _probe_dims(df, vec_col)
        if dims is None:
            return  # empty (or all-NULL) input: nothing to mis-slice
    if dims % m != 0:
        raise ValueError(
            f"m {m} must divide the vector length {dims}: truncated "
            "subspace slices would silently skip/overlap dimensions"
        )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Deterministic PQ codebooks: ``(subspace, code, codeword)`` with
    subspace in [0, m), code in [0, n_codes), codeword = the code-th
    corpus vector's subspace slice (dims/m doubles). Model-sized
    (m x n_codes rows); swap in per-subspace kmeans_centroids slices
    for trained codebooks — the consumers below only see the relation
    shape."""
    from pyspark.sql import Window

    _pq_guard(emb, m, vec_col, n_codes, dims=dims)

    base = (
        emb.orderBy("vec_id")
        .limit(n_codes)
        .select(
            # model-sized relation (n_codes rows) — the global window
            # sorts 16 rows, not data
            F.row_number().over(Window.orderBy("vec_id")).alias("_rn"),
            vec_col,
        )
    )
    sub = base.select(
        (F.col("_rn") - 1).cast("int").alias("code"),
        F.explode(
            F.sequence(F.lit(0), F.lit(m - 1))
        ).alias("subspace"),
        F.col(vec_col).alias("_v"),
    )
    seg = F.size("_v") / m
    return sub.select(
        "subspace",
        "code",
        F.slice(
            "_v",
            (F.col("subspace") * seg + 1).cast("int"),
            seg.cast("int"),
        ).alias("codeword"),
    )


def _codebooks_array(codebooks: DataFrame) -> DataFrame:
    """Fold the codebook relation to ONE row: ``_cb`` is an array over
    subspaces of arrays over codes of codeword arrays (m x n_codes x
    seg doubles) — model-sized, broadcastable."""
    per_sub = codebooks.groupBy("subspace").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("code"), F.col("codeword")))
            ),
            lambda s: s["codeword"],
        ).alias("_codes")
    )
    return per_sub.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("subspace"), F.col("_codes")))
            ),
            lambda s: s["_codes"],
        ).alias("_cb")
    )


def _sub_slice(vec_col: str, sub: Column, m: int) -> Column:
    seg = F.size(vec_col) / m
    return F.slice(vec_col, (sub * seg + 1).cast("int"), seg.cast("int"))


def _round_half_up_int(y):
    """Numpy mirror of Spark's ``F.round(col, 0)`` on doubles:
    vectorized np.round (half-even) with the exact shortest-repr
    HALF_UP correction on half-integer suspects — the
    similarity._np_round6_spark construction at scale 0 (r11, for the
    encode kernel's packed argmin). Suspects are values within 1e-9
    of a half-integer: the kernel computes the same double bit for
    bit as the Column fold, so only the rounding RULE can diverge."""
    import numpy as np

    out = np.round(y)
    with np.errstate(invalid="ignore"):
        frac = y - np.floor(y)
        sus = np.nonzero(np.abs(frac - 0.5) < 1e-9)
    if len(sus[0]):
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        out[sus] = [
            float(Decimal(repr(float(v))).quantize(one, ROUND_HALF_UP))
            for v in np.asarray(y)[sus]
        ]
    return out


def pq_encode_kernel(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    dims: int | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """``pq_encode`` as an Arrow kernel — BIT-IDENTICAL codes and
    norms (equality-pinned in test_compression.py, including exact
    distance ties), for the corpus x (m x n_codes) argmin that
    dominates every PQ build. The _assign_cells_kernel finding applied
    to encoding: the Column-fold path evaluates
    corpus x m x n_codes x seg interpreted lambda steps (~205M at the
    200k/64-dim fixture — measured ~200 s, the whole knn_ivf_pq build
    cost), where batched numpy pays seconds.

    Exactness discipline (knn_brute_force_kernel's): squared distances
    accumulate ACROSS ROWS with numpy but ACROSS DIMS sequentially
    (``acc += diff_d * diff_d`` in dim order — the exact IEEE
    operation order of the zip_with/aggregate fold); the micro-unit
    rounding mirrors Spark's HALF_UP rule via _round_half_up_int; the
    packed ``micro * 256 + code`` argmin with lowest-code ties and the
    signed-tinyint cast (mod-256 wrap) are reproduced exactly. The
    codebook block is collected to the driver — model-sized by the
    same contract that licenses the HOF form's broadcast."""
    import numpy as np

    _pq_guard(emb, m, vec_col, dims=dims)
    cb_rows = codebooks.select("subspace", "code", "codeword").collect()
    if not cb_rows:
        raise ValueError("pq_encode_kernel: empty codebook relation")
    n_codes = max(r["code"] for r in cb_rows) + 1
    # The bit-identity contract needs a DENSE codebook: the HOF fold
    # iterates only the entries that exist, so a missing (subspace,
    # code) — a trained book with a dropped cluster — would leave a
    # phantom all-zero codeword in the kernel's matrix that near-zero
    # residuals happily argmin onto (code-review r11). Fail loud
    # instead of silently diverging.
    seen = {(r["subspace"], r["code"]) for r in cb_rows}
    if len(cb_rows) != m * n_codes or len(seen) != m * n_codes:
        raise ValueError(
            f"pq_encode_kernel: codebook must be dense (m={m} x "
            f"n_codes={n_codes} unique (subspace, code) rows; got "
            f"{len(cb_rows)} rows, {len(seen)} unique) — re-index a "
            "sparse trained book to contiguous codes, or use the HOF "
            "path"
        )
    seg = len(cb_rows[0]["codeword"])
    CB = np.zeros((m, n_codes, seg))
    for r in cb_rows:
        CB[r["subspace"], r["code"]] = np.asarray(
            r["codeword"], dtype=np.float64
        )
    code_ids = np.arange(n_codes, dtype=np.int64)
    has_norm = norm_col is not None
    cols = ["vec_id", vec_col] + ([norm_col] if has_norm else [])

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n = len(ids)
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                sv = M[:, j * seg:(j + 1) * seg]
                acc = np.zeros((n, n_codes))
                for d in range(seg):  # sequential dim order == the fold
                    diff = sv[:, d:d + 1] - CB[j, :, d][None, :]
                    acc += diff * diff
                micro = _round_half_up_int(acc * 1e6).astype(np.int64)
                packed = micro * 256 + code_ids[None, :]
                codes[:, j] = packed.min(axis=1) % 256
            if has_norm:
                norms = pdf[norm_col].to_numpy(np.float64)
            else:
                nacc = np.zeros(n)
                for d in range(M.shape[1]):
                    nacc += M[:, d] * M[:, d]
                norms = np.sqrt(nacc)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "codes": [
                        row.astype(np.int8).tolist() for row in codes
                    ],
                    "norm": norms,
                }
            )

    return emb.select(*cols).mapInPandas(
        encode, "vec_id long, codes array<tinyint>, norm double"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    dims: int | None = None,
    norm_col: str | None = None,
    kernel: bool = False,
) -> DataFrame:
    """The PQ store: ``(vec_id, codes array<tinyint>, norm double)``.
    codes[j] = argmin_c ||subvector_j - codeword_{j,c}||^2, ties to the
    LOWEST code (packed integer argmin — the knn_ivf idiom; squared
    distance rounded to 6 dp micro-units so the pack is exact).
    One broadcast codebook row + Column HOFs: zero shuffles, no
    Python. The exact float ``norm`` rides along (the int8 rationale:
    ADC approximates the numerator only). ``norm_col`` overrides which
    norm rides the store: residual encoding codes the RESIDUAL columns
    but the cosine denominator needs the ORIGINAL vector's norm.
    ``kernel=True`` routes through the bit-identical Arrow kernel
    (pq_encode_kernel) — the build-cost path at real corpus sizes."""
    if kernel:
        return pq_encode_kernel(
            emb, codebooks, m=m, vec_col=vec_col, dims=dims,
            norm_col=norm_col,
        )
    _pq_guard(emb, m, vec_col, dims=dims)
    with_cb = emb.crossJoin(F.broadcast(_codebooks_array(codebooks)))

    def best_code(sub_idx: Column) -> Column:
        sv = _sub_slice(vec_col, sub_idx, m)
        codes = F.element_at(F.col("_cb"), sub_idx.cast("int") + 1)
        # packed (micro-distance, code) argmin over the code axis
        packed = F.transform(
            codes,
            lambda cw, i: (
                F.round(
                    F.aggregate(
                        F.zip_with(sv, cw, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    * 1_000_000,
                    0,
                ).cast("long")
                * 256
                + i
            ),
        )
        return (F.array_min(packed) % 256).cast("tinyint")

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda j: best_code(j)
    )
    norm = (
        F.col(norm_col) if norm_col is not None else l2_norm_expr(vec_col)
    )
    return with_cb.select(
        "vec_id",
        codes.alias("codes"),
        norm.alias("norm"),
    )


def pq_adc_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    vec_col: str = "q_emb",
    id_col: str = "query_id",
    dims: int | None = None,
) -> DataFrame:
    """Per-query ADC lookup table: ``(query_id, lut)`` where lut is a
    FLAT array of m x n_codes doubles — lut[j*n_codes + c] =
    <query_subvector_j, codeword_{j,c}>. Query-sized x model-sized:
    broadcastable next to the code store. ``_nc`` (the per-subspace
    code count the scorer's index arithmetic needs) is derived LAZILY
    from the folded codebook row — an eager max(code) action here
    would re-run the whole codebook lineage (e.g. m k-means fits for
    trained books) before any plan is assembled (code-review r8)."""
    _pq_guard(queries, m, vec_col, dims=dims)
    with_cb = queries.crossJoin(F.broadcast(_codebooks_array(codebooks)))
    lut = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.transform(
                F.element_at(F.col("_cb"), j.cast("int") + 1),
                lambda cw: F.aggregate(
                    F.zip_with(
                        _sub_slice(vec_col, j, m), cw, lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        )
    )
    return with_cb.select(
        id_col,
        lut.alias("lut"),
        F.size(F.element_at(F.col("_cb"), 1)).alias("_nc"),
    )


def _adc_fold() -> Column:
    """The ADC lookup fold: sum_j lut[j * n_codes + codes[j]] over a
    frame carrying ``codes`` (tinyint array) and a joined LUT row
    (``lut``, ``_nc``). ONE implementation — the one-based element_at
    offset and the index arithmetic must never fork between the
    scorers that use it (code-review r8)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.size("codes") - 1),
            lambda c, j: F.element_at(
                F.col("lut"),
                (j * F.col("_nc") + c.cast("int") + 1).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rescore_topk(
    short: DataFrame, corpus: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Shared tail of every compressed-store search: join the
    per-query shortlist back to the float ``corpus`` (neighbor_id,
    c_emb, c_norm), broadcast the ``queries`` (query_id, q_emb,
    q_norm), re-score with the exact round-6 cosine, and rank —
    the contract that makes the output equal the uncompressed
    operator whenever the shortlist covers the true top-k."""
    from flink_exercise_spark.functions.vectors import cosine_from_norms

    rescored = (
        short.join(corpus, "neighbor_id")
        .join(
            F.broadcast(queries.select("query_id", "q_emb", "q_norm")),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms("q_emb", "c_emb", "q_norm", "c_norm"), 6
            ).alias("cosine"),
        )
    )
    return _rank_top_k(rescored, k)


def pq_train_codebooks(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """TRAINED PQ codebooks: per-subspace Lloyd k-means (the
    clustering.kmeans_centroids machinery on each subvector slice),
    returned in the exact ``(subspace, code, codeword)`` shape
    ``pq_encode``/``pq_adc_lut`` consume — train here, encode there
    (the tokenizer/classifier pattern). m model fits of n_codes x
    (dims/m) driver-held state each; the corpus is read per fit (an
    offline, amortized layout job)."""
    from flink_exercise_spark.operators.clustering import kmeans_centroids

    _pq_guard(emb, m, vec_col, n_codes)

    parts = []
    for j in range(m):
        sub = emb.select(
            "vec_id",
            F.lit(0).alias("label"),
            _sub_slice(vec_col, F.lit(j), m).alias("embedding"),
        )
        cb = kmeans_centroids(sub, k=n_codes, iters=iters)
        parts.append(
            cb.select(
                F.lit(j).cast("int").alias("subspace"),
                F.col("cell_id").cast("int").alias("code"),
                F.col("cent").alias("codeword"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_ivf_pq(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    n_cells: int | None = None,
    n_probe: int = 2,
    k: int = TOP_K,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int | None = None,
    codebook: DataFrame | None = None,
    pq_books: DataFrame | None = None,
    assign_kernel: bool = False,
    encode_kernel: bool = False,
) -> DataFrame:
    """The composed FAISS-IVFPQ shape: the IVF cell filter bounds WHICH
    candidates are scored (n_probe/n_cells of the corpus, the
    knn_ivf/_ivf_assign_probe machinery verbatim), PQ-ADC bounds WHAT
    scoring a candidate costs (M tinyint lookups against the broadcast
    per-query LUT — the probe scan reads codes + one norm, never
    floats), and the exact shortlist re-score bounds the error: output
    EQUALS knn_ivf whenever the per-query shortlist covers the probed
    candidates (pinned in tests). The coarse ``codebook`` and the PQ
    ``pq_books`` are independent models — pass trained relations
    (kmeans_centroids / pq_train_codebooks) for either, same plans.

    At 100 TB: the corpus persists partitioned by cell id carrying
    (codes, norm) — 8 + 8 bytes per vector at the defaults vs 512 for
    float64 — so a probe is a partition-pruned scan of compressed
    bytes, and the float store is only touched by the
    (queries x shortlist)-row re-score join."""
    if shortlist is None:
        shortlist = max(4 * k, 32)
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    from flink_exercise_spark.operators.similarity import (
        N_CELLS,
        _ivf_assign_probe,
    )

    corpus_f = spread(emb.filter(F.col("vec_id") >= n_queries), "vec_id")
    # ONE dims probe validates all three PQ helpers below — without
    # it each helper runs its own LIMIT-1 Spark action at composition
    # time, three driver round-trips for the same check (r8 ADVICE).
    dims = _probe_dims(emb, "embedding")
    _pq_guard(emb, m, "embedding", n_codes, dims=dims)
    if pq_books is None:
        pq_books = pq_codebooks(corpus_f, m=m, n_codes=n_codes, dims=dims)
    store = pq_encode(
        corpus_f, pq_books, m=m, dims=dims, kernel=encode_kernel
    ).withColumnRenamed("vec_id", "neighbor_id")
    corpus, queries, assigned_ids, probes = _ivf_assign_probe(
        emb,
        n_queries,
        N_CELLS if n_cells is None else n_cells,
        n_probe,
        codebook,
        assign_kernel=assign_kernel,
    )
    luts = pq_adc_lut(
        queries.select("query_id", "q_emb"), pq_books, m=m, dims=dims
    )
    # probe scan over the COMPRESSED store, cell-filtered
    cand = (
        store.join(assigned_ids, "neighbor_id")
        .join(
            F.broadcast(probes.select("query_id", "cell_id")), "cell_id"
        )
        .join(F.broadcast(luts), "query_id")
    )
    approx = cand.select(
        "query_id",
        "neighbor_id",
        (_adc_fold() / F.col("norm")).alias("adot"),
    )
    short = _rank_top_k(approx, shortlist, score_col="adot").select(
        "query_id", "neighbor_id"
    )
    return _exact_rescore_topk(short, corpus, queries, k)


def residual_vectors(
    corpus: DataFrame, assigned_ids: DataFrame, cents: DataFrame
) -> DataFrame:
    """Per-vector IVF residuals: ``(vec_id, cell_id, resid
    array<double>, orig_norm)`` with resid = x − centroid(cell(x)).
    One broadcast-centroid join + a zip_with projection — zero extra
    shuffles beyond the assignment the IVF path already pays."""
    return (
        corpus.join(assigned_ids, "neighbor_id")
        .join(F.broadcast(cents.select("cell_id", "cent")), "cell_id")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            "cell_id",
            F.zip_with(
                "c_emb", "cent", lambda a, b: a - b
            ).alias("resid"),
            F.col("c_norm").alias("orig_norm"),
        )
    )


def knn_ivf_pq_residual(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    n_cells: int | None = None,
    n_probe: int = 2,
    k: int = TOP_K,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int | None = None,
    codebook: DataFrame | None = None,
    pq_books: DataFrame | None = None,
    assign_kernel: bool = False,
    encode_kernel: bool = False,
) -> DataFrame:
    """The canonical FAISS IVFPQ: PQ codes built on per-cell RESIDUALS
    (x − centroid) instead of raw vectors (Jegou et al. 2011 §IV.C;
    VERDICT r8 ask #3). Residuals concentrate near the origin, so the
    same bit budget spends its codewords on a much smaller ball —
    measurably lower reconstruction MSE at fixed (m, n_codes), pinned
    in tests against the raw-vector encoding.

    Scoring decomposes exactly: <q, x> = <q, cent(x)> + <q, r(x)>.
    The first term is computed EXACTLY per (query, probed cell) — a
    tiny queries x n_probe relation riding the probe join; the second
    is the standard ADC fold against the residual codebooks' LUT. The
    exact shortlist re-score is unchanged, so output EQUALS knn_ivf
    under covering shortlists (the knn_ivf_pq contract, preserved).

    Store layout at 100 TB is knn_ivf_pq's: (codes tinyint[m], one
    float norm) per vector partitioned by cell — residual encoding
    changes WHAT the codes mean, not what the probe scan reads."""
    if shortlist is None:
        shortlist = max(4 * k, 32)
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    from flink_exercise_spark.operators.similarity import (
        N_CELLS,
        _ivf_assign_probe,
        _ivf_centroids,
    )

    from flink_exercise_spark.caching import persist_tracked

    nc = N_CELLS if n_cells is None else n_cells
    cents = _ivf_centroids(emb, n_queries, nc, codebook)
    corpus, queries, assigned_ids, probes = _ivf_assign_probe(
        emb, n_queries, nc, n_probe, codebook, cents=cents,
        assign_kernel=assign_kernel,
    )
    # assigned_ids feeds TWO subtrees (the residual build and the
    # candidate scan join — pq_encode cannot carry cell_id through);
    # unpersisted, the corpus-vs-centroid packed-argmax aggregation
    # would run twice (code-review r9). Narrow relation: 2 longs/vec.
    assigned_ids = persist_tracked(assigned_ids)
    dims = _probe_dims(emb, "embedding")
    _pq_guard(emb, m, "embedding", n_codes, dims=dims)

    resid = residual_vectors(corpus, assigned_ids, cents)
    if pq_books is None:
        # The deterministic codebook build (TakeOrdered over resid)
        # and the encode both re-execute the residual lineage — a full
        # corpus pass of interpreted zip_with subtraction each.
        # Persist the narrow residual relation so it materializes once
        # (r11, the write_ann_index build rationale; profiled: this +
        # the encode kernel is what closes the residual-vs-raw build
        # gap BENCH_RESIDUAL.json measured).
        resid = persist_tracked(resid)
        # Deterministic books sample the first n_codes rows as
        # codewords — but under the deterministic COARSE codebook the
        # first n_cells corpus vectors ARE the centroids, so their
        # residuals are exact zeros; sampling them would waste
        # codewords on duplicate zero vectors. Skip the seed range
        # (only exists when codebook is None).
        book_base = (
            resid.filter(F.col("vec_id") >= n_queries + nc)
            if codebook is None
            else resid
        )
        pq_books = pq_codebooks(
            book_base, m=m, n_codes=n_codes, vec_col="resid", dims=dims
        )
    store = pq_encode(
        resid, pq_books, m=m, vec_col="resid", dims=dims,
        norm_col="orig_norm", kernel=encode_kernel,
    ).withColumnRenamed("vec_id", "neighbor_id")

    luts = pq_adc_lut(
        queries.select("query_id", "q_emb"), pq_books, m=m, dims=dims
    )
    # exact <q, cent> per probed (query, cell): queries x n_probe rows
    qcent = probes.join(
        F.broadcast(cents.select("cell_id", "cent")), "cell_id"
    ).select(
        "query_id",
        "cell_id",
        F.aggregate(
            F.zip_with("q_emb", "cent", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_qcent"),
    )
    cand = (
        store.join(assigned_ids, "neighbor_id")
        .join(F.broadcast(qcent), "cell_id")
        .join(F.broadcast(luts), "query_id")
    )
    approx = cand.select(
        "query_id",
        "neighbor_id",
        ((F.col("_qcent") + _adc_fold()) / F.col("norm")).alias("adot"),
    )
    short = _rank_top_k(approx, shortlist, score_col="adot").select(
        "query_id", "neighbor_id"
    )
    return _exact_rescore_topk(short, corpus, queries, k)
