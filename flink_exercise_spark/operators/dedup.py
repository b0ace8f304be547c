"""Deduplication operators over the documents table — north-star ops.

Five families, each expressed in its scale-correct Spark shape:

- exact: hash-groupBy on md5(text). One shuffle of (hash, id) pairs —
  the raw text never crosses the wire.
- MinHash + LSH banding: per-doc k-hash signature via explode->groupBy
  (map-side combine keeps the shuffle at k rows per doc), then
  candidate pairs via equi-join on band values — the classic
  shingle->minhash->band->bucket-join pipeline. No cross join anywhere;
  at 100 TB the band join is the only pairwise step, touches only
  colliding buckets, and drops buckets above BUCKET_CAP (the
  N-identical-docs N^2 skew bomb).
- n-gram Jaccard: inverted-index self-join (explode distinct tokens,
  join on token within a blocking key, count shared tokens) — the
  exact-verification stage; ``lsh_verified_pairs`` runs it gated
  behind the LSH candidates with a count-gated broadcast.
- SimHash: 64-bit signed-projection sketch via an Arrow-batched Pandas
  UDF (deterministic md5-based bit hashes) — the documented escape
  hatch for ops whose inner loop doesn't decompose into SQL, and near-
  dup detection by Hamming distance on band-equal buckets.
- connected components: min-label propagation over the verified-pair
  graph (``near_dup_clusters``) — pairs -> keep-one-representative
  clusters, the routing target for capped hot buckets.

The minhash permutation family is ``md5(seed || '|' || token)`` — a
public, engine-independent construction, so DuckDB can run the
identical oracle (Spark's builtin ``hash()`` would not be portable).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.caching import (
    local_checkpoint_tracked,
    persist_tracked,
)
from flink_exercise_spark.operators.text import (
    shingles_from_tokens,
    tokens_expr,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

N_MINHASH = 8  # signature length k
BAND_ROWS = 2  # r rows per band -> b = k/r = 4 bands

# Hot-bucket cap for the LSH band joins. N docs colliding in one band
# bucket emit N^2/2 candidate pairs — the classic dedup skew bomb (a
# crawl with 1M copies of one boilerplate page would emit 5e11 pairs
# from a single bucket). Buckets larger than the cap are dropped from
# the pair join (their members are by definition near-identical; the
# production pipeline removes exact dupes upstream via exact_dedup_map
# and routes capped buckets to a connected-components pass instead of
# enumerating pairs). 256 bounds any one bucket at ~32k pairs while
# sitting far above real near-dup cluster sizes; the fixture corpus has
# no bucket anywhere near it, so capped and uncapped results agree and
# the DuckDB oracles (which have no cap) stay green.
BUCKET_CAP = 256


def _cap_hot_buckets(
    banded: DataFrame, keys: tuple[str, ...], cap: int
) -> DataFrame:
    """Drop rows of band buckets holding more than ``cap`` members.

    Anti-join against the (tiny) hot-bucket list: the bucket-size
    aggregate is map-side combined, and a bucket must hold > cap rows
    to appear, so the hot list is bounded by n_rows/cap — small enough
    that the optimizer picks a broadcast anti-join on its own (no
    unconditional hint: in an adversarial corpus where MOST rows sit in
    hot buckets the list can still be wide, and a hinted broadcast
    would OOM exactly when the cap matters most).

    Observability: pair this with ``lsh_hot_buckets`` to see what was
    dropped and how big each bucket was.
    """
    if cap is None:
        return banded
    hot = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > cap)
        .select(*keys)
    )
    return banded.join(hot, list(keys), "left_anti")


def lsh_hot_buckets(
    docs: DataFrame,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """The buckets ``minhash_band_pairs`` would drop at this cap, with
    sizes — the audit/monitoring channel for the capped pair join."""
    sigs = minhash_signatures(docs, k)
    banded = _banded_signatures(sigs, k, r)
    return (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > cap)
    )


def exact_dedup_map(docs: DataFrame) -> DataFrame:
    """Canonical-id mapping: every doc's group keeps min(doc_id)."""
    return docs.select(F.md5("text").alias("text_hash"), "doc_id").groupBy(
        "text_hash"
    ).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _doc_shingles(
    docs: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id[, extra_cols], tok) with distinct word 3-gram shingles
    per document.

    Shingles are the similarity unit (see text.shingles_expr for the
    measured 4-orders-of-magnitude candidate-pair reduction vs
    unigrams on the fixture corpus). Documents with < 3 tokens have no
    shingles and drop out of signature/pair queries — identical
    behavior in the DuckDB oracles. ``extra_cols`` carries blocking
    keys (e.g. lang) alongside the inverted index.
    """
    from flink_exercise_spark.functions.exprmemo import expr_memo

    tok_col, shingle_col = expr_memo(
        ("doc_shingles", extra_cols),
        lambda: (
            tokens_expr().alias("_toks"),
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("_toks")))
            ).alias("tok"),
        ),
    )
    return (
        spread(docs, "doc_id")
        .select("doc_id", *extra_cols, tok_col)
        .select("doc_id", *extra_cols, shingle_col)
    )


def _jaccard_scores(
    shared: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Jaccard from shared-shingle counts: join per-doc set sizes onto
    (doc_a, doc_b, n_shared) and keep pairs at/above ``threshold`` —
    the verify tail shared by ``jaccard_pairs`` and
    ``lsh_verified_pairs``."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    sa_cols, sb_cols, jac_col, keep = expr_memo(
        ("jaccard_scores", threshold),
        lambda: (
            (F.col("doc_id").alias("doc_a"), F.col("n_toks").alias("n_a")),
            (F.col("doc_id").alias("doc_b"), F.col("n_toks").alias("n_b")),
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
            F.col("jaccard") >= threshold,
        ),
    )
    sa = sizes.select(*sa_cols)
    sb = sizes.select(*sb_cols)
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac_col)
        .filter(keep)
    )


def minhash_signatures(
    docs: DataFrame, k: int = N_MINHASH, toks: DataFrame | None = None
) -> DataFrame:
    """k-permutation MinHash signature columns h0..h{k-1} over shingles.

    Explode -> groupBy(min) rather than a per-row array fold: the
    shuffle then carries partial minima (map-side combine), and the
    shingle column is pruned to exactly what each hash needs.
    ``toks`` optionally supplies an already-computed (doc_id, tok)
    shingle relation so a composed pipeline shares one pass.
    """
    from flink_exercise_spark.functions.exprmemo import expr_memo

    if toks is None:
        toks = _doc_shingles(docs)
    aggs = expr_memo(
        ("minhash_aggs", k),
        lambda: [
            F.min(
                F.md5(F.concat(F.lit(f"{i}|"), F.col("tok")))
            ).alias(f"h{i}")
            for i in range(k)
        ],
    )
    return toks.groupBy("doc_id").agg(*aggs)


def _banded_signatures(
    sigs: DataFrame, k: int = N_MINHASH, r: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band_id, band_hash) — signatures unpivoted to bands."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    band_col = expr_memo(
        ("banded_signatures", k, r),
        lambda: F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"h{b * r + j}") for j in range(r)],
                        )
                    ).alias("band_hash"),
                )
                for b in range(k // r)
            ])
        ).alias("band"),
    )
    return (
        sigs.select("doc_id", band_col)
        .select("doc_id", "band.band_id", "band.band_hash")
    )


def minhash_band_pairs(
    docs: DataFrame,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
    bucket_cap: int | None = BUCKET_CAP,
    toks: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on at least one signature band.

    Shape at scale: signatures -> unpivot to (band_id, band_hash) ->
    self-equi-join on the band bucket. Only hash values shuffle, and
    buckets larger than ``bucket_cap`` are excluded from the join (see
    BUCKET_CAP — the N-identical-docs N^2 bomb; ``lsh_hot_buckets``
    reports what was dropped). ``bucket_cap=None`` disables the cap.

    ``toks`` lets a caller that already holds a MATERIALIZED shingle
    relation (e.g. a deployment that wrote the inverted index to a
    bucketed table) feed it in so the tokenize+explode pass is not
    re-run. Deliberately NOT used by ``lsh_verified_pairs``' in-memory
    persist: measured at sf1, reading the ~10x exploded relation back
    through the columnar cache costs more than re-running the explode
    (1.8x slower end to end); the seam pays only when the relation is
    already materialized at rest.
    """
    sigs = minhash_signatures(docs, k, toks=toks)
    # Persist BELOW the cap: the hot-bucket aggregate and both join
    # sides all read the banded relation, and without materialization
    # each reference would re-run the whole signature pipeline.
    banded = persist_tracked(_banded_signatures(sigs, k, r))
    banded = _cap_hot_buckets(banded, ("band_id", "band_hash"), bucket_cap)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float = 0.2, block_cols: tuple[str, ...] = ("lang",)
) -> DataFrame:
    """Shingle-set Jaccard similarity pairs via inverted-index self-join.

    ``block_cols`` bounds the candidate space (at 100 TB, blocking —
    or an upstream LSH pass — is mandatory; an unblocked join on a
    power-law term distribution would explode on its head terms; with
    shingles the head is already orders of magnitude lighter than with
    unigrams).
    """
    # The inverted index feeds four plan subtrees (both join sides and
    # both size lookups); without persist, Catalyst inlines the
    # scan+explode into each — 8 Generate nodes in the physical plan,
    # measured. At 100 TB this is the relation you'd materialize
    # (checkpoint/bucketed table) for the same reason.
    toks = persist_tracked(_doc_shingles(docs, block_cols))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    l, r = toks.alias("l"), toks.alias("r")
    cond = (F.col("l.tok") == F.col("r.tok")) & (
        F.col("l.doc_id") < F.col("r.doc_id")
    )
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    shared = (
        l.join(r, cond)
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return _jaccard_scores(shared, sizes, threshold)


# ---------------------------------------------------------------------------
# SimHash via Arrow-batched Pandas UDF (the documented Python escape hatch)
# ---------------------------------------------------------------------------

class _SimhashVocab:
    """Token -> ±1 bit-row vocabulary, memoized across a partition.

    md5 runs once per *unique* token (corpus vocabularies are Zipfian,
    so most occurrences hit the dict); bit expansion is one
    ``np.unpackbits`` instead of a 64-iteration Python loop. Bit b of
    the row equals bit b (LSB-first) of the big-endian int over the
    first 8 digest bytes — the construction documented for the oracle.
    """

    def __init__(self) -> None:
        import numpy as np

        self._np = np
        self.index: dict[str, int] = {}
        self._buf = np.empty((1024, 64), dtype=np.int32)
        self._n = 0

    def matrix(self):
        return self._buf[: self._n]

    def ids(self, toks: list[str]) -> list[int]:
        np = self._np
        out = []
        idx = self.index
        for t in toks:
            i = idx.get(t)
            if i is None:
                if self._n == self._buf.shape[0]:  # amortized doubling
                    grown = np.empty((self._n * 2, 64), dtype=np.int32)
                    grown[: self._n] = self._buf
                    self._buf = grown
                d8 = np.frombuffer(hashlib.md5(t.encode()).digest()[:8], np.uint8)
                self._buf[self._n] = (
                    np.unpackbits(d8[::-1], bitorder="little").astype(np.int32)
                    * 2 - 1
                )
                i = self._n
                idx[t] = i
                self._n += 1
            out.append(i)
        return out


def _simhash64(text: str, _vocab: _SimhashVocab | None = None) -> int:
    """Deterministic 64-bit SimHash over whitespace tokens: sum the
    per-occurrence ±1 bit rows, set bit b where the sum is positive."""
    import numpy as np

    vocab = _vocab or _SimhashVocab()
    toks = text.split()
    if not toks:
        return 0
    ids = vocab.ids(toks)
    weights = vocab.matrix()[ids].sum(axis=0)
    v = int.from_bytes(
        np.packbits(weights > 0, bitorder="little").tobytes(), "little"
    )
    # Represent as signed 64-bit for Spark LongType.
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) via mapInPandas — Arrow batches in, Arrow
    batches out; ~100x fewer Python boundary crossings than a row UDF."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = _SimhashVocab()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "simhash": pdf["text"]
                    .map(lambda t: _simhash64(t, vocab))
                    .astype("int64"),
                }
            )

    return spread(docs.select("doc_id", "text"), "doc_id").mapInPandas(
        compute, schema="doc_id long, simhash long"
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    bucket_cap: int | None = BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, banded so the
    join is on 16-bit chunks (any pair within Hamming<=3*16 shares at
    least one of 4 chunks exactly; for small max_hamming this is the
    standard probe structure). Chunk buckets larger than ``bucket_cap``
    are dropped from the join (see BUCKET_CAP).

    Cap-saturation note (the image_phash_pairs r11 finding, one key
    space further out): a 16-bit chunk has 65,536 values, so at n docs
    the UNIFORM load per (chunk_id, value) is n/65536 — a FIXED cap of
    256 saturates around n ≈ 16.7M documents and would then cut every
    chunk, duplicates included. ``bucket_cap="adaptive"`` scales the
    cut to 8x the uniform load (floored at BUCKET_CAP) from one count
    over the already-persisted banded relation; the MinHash band keys
    are md5-sized and do not have this failure mode."""
    sigs = simhash_signatures(docs)
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias(
                    "chunk"
                ),
            )
            for i in range(4)
        ]
    )
    # persist: the self-join references this relation on both sides —
    # without it the Pandas-UDF signature stage executes twice.
    banded = persist_tracked(
        sigs.select("doc_id", "simhash", F.explode(chunks).alias("c"))
        .select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    )
    if bucket_cap == "adaptive":
        bucket_cap = max(
            BUCKET_CAP, 8 * -(-(banded.count() // 4) // 65536)
        )
    banded = _cap_hot_buckets(banded, ("chunk_id", "chunk"), bucket_cap)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Registry entries
# ---------------------------------------------------------------------------

# 1-based n-gram shingles, the exact twin of text.shingles_expr (n=3).
_ORACLE_SHINGLE_CTE = """
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS tok
      FROM (SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents)
"""


@register(
    "dedup_exact_map",
    # Pandas pin: tests/test_rotation_pins.py.
    # Subsumes the former dedup_exact_stats entry: corpus-level
    # accounting (n_docs / n_distinct / n_dups) is a trivial aggregate
    # over this map.
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="Exact-dedup canonical-id mapping (hash-groupBy; only "
        "(md5, id) pairs shuffle, text never crosses the wire)",
    tags=("dedup", "documents"),
)
def q_dedup_map(spark, sf_dir):
    return exact_dedup_map(load_table(prep(spark), sf_dir, "documents"))


def _minhash_oracle(k: int = N_MINHASH) -> str:
    cols = ",\n           ".join(
        f"min(md5('{i}|' || tok)) AS h{i}" for i in range(k)
    )
    return f"""
    WITH toks AS (
      {_ORACLE_SHINGLE_CTE}
    )
    SELECT doc_id, {cols} FROM toks GROUP BY doc_id
    """


@register(
    "dedup_minhash_signatures",
    # Hashlib pin: tests/test_rotation_pins.py.
    oracle=_minhash_oracle(),
    doc="8-permutation MinHash signatures over 3-gram shingles "
        "(md5 hash family)",
    tags=("dedup", "documents", "minhash"),
)
def q_minhash_sigs(spark, sf_dir):
    return minhash_signatures(load_table(prep(spark), sf_dir, "documents"))


def _banded_oracle_cte(k: int = N_MINHASH, r: int = BAND_ROWS) -> str:
    """``sigs AS (...), banded AS (...)`` CTE fragment: per-doc band
    buckets — shared by the band-pairs oracle and the streaming
    near-dup oracle (streaming/jobs.py)."""
    sig = _minhash_oracle(k)
    bands = ", ".join(
        f"md5(h{b * r} || '|' || h{b * r + 1}) AS band{b}"
        for b in range(k // r)
    )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sigs"
        for b in range(k // r)
    )
    return f"""sigs AS (
      SELECT doc_id, {bands} FROM ({sig})
    ), banded AS (
      {unions}
    )"""


def _band_pairs_oracle(k: int = N_MINHASH, r: int = BAND_ROWS) -> str:
    return f"""
    WITH {_banded_oracle_cte(k, r)}
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM banded l JOIN banded r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
    """


@register(
    "dedup_minhash_band_pairs",
    # Hashlib pin: tests/test_rotation_pins.py.
    oracle=_band_pairs_oracle(),
    doc="MinHash-LSH candidate pairs over 3-gram shingles "
        "(4 bands x 2 rows)",
    tags=("dedup", "documents", "minhash"),
)
def q_minhash_pairs(spark, sf_dir):
    return minhash_band_pairs(load_table(prep(spark), sf_dir, "documents"))


@register(
    "dedup_jaccard_pairs",
    # Python-set pin: tests/test_rotation_pins.py.
    oracle=f"""
    WITH toks AS (
      {_ORACLE_SHINGLE_CTE}
    ), sizes AS (
      SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY 1
    ), shared AS (
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_shared
      FROM toks l JOIN toks r
        ON l.tok = r.tok AND l.lang = r.lang AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_shared / (sa.n_toks + sb.n_toks - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_shared / (sa.n_toks + sb.n_toks - n_shared), 4) >= 0.2
    """,
    doc="Token-set Jaccard near-dup pairs (inverted-index join, "
        "lang-blocked)",
    tags=("dedup", "documents", "jaccard"),
)
def q_jaccard(spark, sf_dir):
    return jaccard_pairs(load_table(prep(spark), sf_dir, "documents"))


def lsh_verified_pairs(
    docs: DataFrame,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
    threshold: float = 0.2,
    broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """The production dedup pipeline: MinHash-LSH candidate generation
    gated in front of exact shingle-Jaccard verification.

    This is the 100 TB shape the standalone ``jaccard_pairs`` docstring
    promises: the exact inverted-index join runs ONLY over pairs that
    collide in at least one signature band (sub-quadratic candidate
    set), never over the full blocked cross product.

    Candidate-pair cardinality is data-dependent (a heavily-duplicated
    corpus produces a huge candidate set), so the broadcast hint on the
    candidates is COUNT-GATED, not unconditional: the candidate
    relation is persisted, counted — the count materializes the cache
    the verification join then reads, so the signature stage still runs
    once — and broadcast only when it holds at most ``broadcast_limit``
    pairs (~32 MB of packed longs at the default). Above the limit the
    candidates are explicitly hinted onto the sort-merge path: the
    observed count is ground truth where Catalyst's aggregate-size
    heuristics are not, and an optimizer that *under*-estimates a
    blown-up candidate set would otherwise still pick the broadcast
    that OOMs every executor.

    Measured cost of the gate (r5, bench conf: shuffle=2, AQE off,
    min-of-3 on the fixtures): full pipeline 2.04 s gated vs 1.48 s
    with an oracle's unconditional broadcast at sf0.1 (+0.56 s); at
    sf1, 10.7 s gated vs 9.1 s unconditional-broadcast (+1.6 s) but
    vs 11.7 s for the unconditional merge-hint fallback — i.e. the
    gate already beats ONE of the two blind choices at sf1, and the
    blind broadcast it narrowly trails is exactly the choice that
    OOMs when the candidate set blows up. In AQE deployments (cluster
    defaults, session.py) the runtime broadcast decision comes free
    from actual shuffle sizes; the explicit gate is the belt-and-
    braces path for AQE-off runs and for engines fronting the join
    with a persisted relation AQE cannot see through.
    """
    # The signature stage deliberately RE-COMPUTES the shingle explode
    # rather than reading the persisted ``toks`` relation below (r13:
    # feeding the persisted relation into minhash_band_pairs via its
    # ``toks=`` seam was measured 1.21x faster at sf0.1 — one fewer
    # scan+explode — but 1.8x SLOWER at sf1, where the columnar cache
    # write+read of the ~10x larger exploded shingle relation costs
    # far more than re-running the explode with idle cores; the
    # recompute form is the one that scales).
    cands = persist_tracked(minhash_band_pairs(docs, k, r))
    n_cands = cands.count()
    cands = (
        F.broadcast(cands) if n_cands <= broadcast_limit
        else cands.hint("merge")
    )
    toks = persist_tracked(_doc_shingles(docs))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    l, rt = toks.alias("l"), toks.alias("r")
    shared = (
        cands
        .join(l, F.col("doc_a") == F.col("l.doc_id"))
        .join(
            rt,
            (F.col("doc_b") == F.col("r.doc_id"))
            & (F.col("l.tok") == F.col("r.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return _jaccard_scores(shared, sizes, threshold)


@register(
    "dedup_lsh_verified_pairs",
    # Pin: tests/test_rotation_pins.py
    oracle=f"""
    WITH cands AS (
      {_band_pairs_oracle()}
    ), toks AS (
      {_ORACLE_SHINGLE_CTE}
    ), sizes AS (
      SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY 1
    ), shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      FROM cands c
      JOIN toks l ON l.doc_id = c.doc_a
      JOIN toks r ON r.doc_id = c.doc_b AND r.tok = l.tok
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_shared / (sa.n_toks + sb.n_toks - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_shared / (sa.n_toks + sb.n_toks - n_shared), 4) >= 0.2
    """,
    doc="LSH-gated exact dedup: MinHash band candidates verified by "
        "exact shingle Jaccard — the sub-quadratic two-stage pipeline",
    tags=("dedup", "documents", "minhash", "jaccard"),
)
def q_lsh_verified(spark, sf_dir):
    return lsh_verified_pairs(load_table(prep(spark), sf_dir, "documents"))


def connected_components(
    pairs: DataFrame, max_iters: int = 10
) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair
    relation: (doc_id, cluster_id=min reachable id), vertices in no
    pair omitted (singletons are their own cluster).

    Spark shape: iterative min-label propagation. Each round joins the
    (persisted, symmetrized) edge list against the current labels and
    takes the per-vertex min over self + neighbors; iteration stops at
    the measured fixpoint or ``max_iters``. Rounds needed = graph
    diameter, and near-dup clusters are dense/shallow (a few hops), so
    3-4 rounds close real corpora. Per round: one equi-join + one
    hash-agg over (vertex, label) longs — shuffle is 2 longs per edge;
    the label relation is persisted per round so the plan stays one
    InMemoryRelation deep (no per-iteration plan growth or codegen
    recompile — same discipline as the k-means kernel).
    """
    if max_iters < 1:
        # ADVICE r13: the old trailing assert raised AssertionError here
        # (labels stays None) and vanishes under ``python -O``; fail
        # explicitly instead — a 0-round CC has no meaningful labeling.
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    from flink_exercise_spark.functions.exprmemo import expr_memo

    # static per-round expression trees (r14 exprmemo: the loop below
    # re-built these every round of every invocation)
    (
        rev_cols, init_a, init_b, nbr_cols, agg_exprs, changed_cond,
    ) = expr_memo(
        "connected_components",
        lambda: (
            (F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")),
            (F.col("doc_a").alias("doc_id"),
             F.col("doc_a").alias("cluster_id")),
            (F.col("doc_a").alias("doc_id"),
             F.col("doc_b").alias("cluster_id")),
            (F.col("doc_a").alias("doc_id"), F.col("cluster_id")),
            (F.min("cluster_id").alias("cluster_id"),
             F.max("cluster_id").alias("_max_seen")),
            F.col("cluster_id") < F.col("_max_seen"),
        ),
    )
    pairs = pairs.select("doc_a", "doc_b")
    # Persist the symmetrized edge list HASH-PARTITIONED ON doc_b, the
    # column every round's join probes (r14, guide §2.4 "two
    # operations keyed the same way can share one exchange"): labels
    # leave each round's groupBy hash-partitioned on doc_id at
    # spark.sql.shuffle.partitions, and a keyless repartition here uses
    # the same conf value, so edges⋈labels is co-partitioned and NO
    # per-round edge exchange is planned — one up-front edge shuffle
    # replaces one per round (strict win at any round count ≥ 1, and
    # scale-adaptive: the partition count is the session's shuffle
    # conf, not a constant). It also bounds the cached partition count:
    # un-repartitioned, the union carried 2x the verify join's
    # partitioning (16 cache partitions → a 32-task map stage per
    # round-1 at fixture scale, pure scheduling tax).
    edges = persist_tracked(
        pairs.union(pairs.select(*rev_cols)).repartition("doc_b")
    )
    # Round 1 folded into initialization (r13 optimization, guide §1.2:
    # fewer jobs/passes): with labels == identity, round 1's
    # join-then-aggregate reduces to ONE aggregate straight over the
    # edge list — label(v) = min(v ∪ direct neighbors) — so the
    # separate identity-labels distinct+persist AND the first round's
    # join are both gone. groupBy subsumes the old ``.distinct()``.
    labels: DataFrame | None = None
    for rnd in range(max_iters):
        if labels is None:
            stepped = edges.select(*init_a).unionByName(
                edges.select(*init_b)
            )
        else:
            nbr = edges.join(
                labels, edges["doc_b"] == labels["doc_id"]
            ).select(*nbr_cols)
            stepped = labels.unionByName(nbr)
            # Pointer-jumping term from round 3 on (r14, VERDICT r13
            # item 6): also feed each vertex its LABEL'S label —
            # l(l(v)) — so per-round reach DOUBLES instead of growing
            # by one hop, turning O(diameter) rounds into O(log
            # diameter) on long-chain graphs (measured: a 2^12-vertex
            # planted chain converges in 12 rounds instead of hitting
            # the iteration cap; see OPTIMIZATION_r14.md §ITEM6).
            # Correctness: every label is the id of a SAME-COMPONENT
            # vertex (invariant), so l(l(v)) is too; the min over a
            # superset stays monotone toward the component minimum,
            # and the fixpoint certificate below only gains inputs
            # that must also agree — changed == 0 still implies a
            # component-constant labeling, which the component min
            # argument in the certificate comment pins to min-id.
            # Adaptive start at round 3: real near-dup clusters are
            # shallow (the fixture certifies at round 2), so the
            # common case never pays the extra vertex-sized self-join;
            # only graphs still moving after two rounds — long
            # diameters — buy the doubling.
            if rnd >= 2:
                jmp = (
                    labels.alias("_l")
                    .join(
                        labels.alias("_p"),
                        F.col("_l.cluster_id") == F.col("_p.doc_id"),
                    )
                    .select(
                        F.col("_l.doc_id").alias("doc_id"),
                        F.col("_p.cluster_id").alias("cluster_id"),
                    )
                )
                stepped = stepped.unionByName(jmp)
        # Lazy localCheckpoint (r13 optimization): the eager form spent
        # one job materializing the round and the fixpoint count spent
        # a second; eager=False lets the count job below materialize
        # the checkpoint as its side effect — one job per round instead
        # of two — while still truncating lineage every round, so plan
        # depth (and Catalyst analysis cost) stays constant and a
        # long-diameter graph cannot overflow the driver (~30 rounds
        # with raw persist, measured in an earlier round). The caveat
        # is the standard one: localCheckpoint blocks don't survive
        # executor loss — a production run on a real cluster uses
        # reliable checkpointing (sc.setCheckpointDir) at the same
        # call site. Tracked, so the next registry query (or
        # release_persisted) frees every round's blocks instead of
        # leaving them to JVM GC; the result's action must run first.
        new_labels = local_checkpoint_tracked(
            stepped.groupBy("doc_id").agg(*agg_exprs)
        )
        # Fixpoint ⟺ every vertex and all its neighbors already share
        # one label ⟺ min == max of the agg inputs (own label ∪
        # neighbor labels) at EVERY vertex. Any vertex with min < max
        # saw a differing label, so at least one assignment moved (or
        # will move next round) — iterate. A FULL count (no limit):
        # every partition must compute anyway for the checkpoint to
        # cover the relation, so the count is free coverage, and a
        # limit(1) short-circuit would leave partitions unmaterialized
        # for the next round to recompute.
        changed = new_labels.filter(changed_cond).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    assert labels is not None  # guarded: max_iters >= 1 raised above
    return labels


def near_dup_clusters(
    docs: DataFrame,
    threshold: float = 0.2,
    max_iters: int = 10,
) -> DataFrame:
    """Near-dup clusters: every doc in a near-duplicate cluster labeled
    with the cluster's min doc_id — the pass that turns verified PAIRS
    into the keep-one-representative decision a training pipeline
    actually needs (and the documented routing target for capped hot
    buckets, see BUCKET_CAP). Composition: LSH-gated exact verification
    (lsh_verified_pairs) -> connected_components."""
    return connected_components(
        lsh_verified_pairs(docs, threshold=threshold), max_iters=max_iters
    )


def _clusters_oracle_cte() -> str:
    """``WITH RECURSIVE ... clusters AS (doc_id, cluster_id)``: the
    transitive-closure twin of ``near_dup_clusters`` — shared by the
    clusters oracle and the keep-best canonical-selection oracle."""
    return f"""WITH RECURSIVE verified AS (
      SELECT doc_a, doc_b FROM (
        WITH cands AS (
          {_band_pairs_oracle()}
        ), toks AS (
          {_ORACLE_SHINGLE_CTE}
        ), sizes AS (
          SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY 1
        ), shared AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_shared
          FROM cands c
          JOIN toks l ON l.doc_id = c.doc_a
          JOIN toks r ON r.doc_id = c.doc_b AND r.tok = l.tok
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_shared / (sa.n_toks + sb.n_toks - n_shared), 4)
              >= 0.2
      )
    ), edges AS (
      SELECT doc_a AS v, doc_b AS u FROM verified
      UNION ALL
      SELECT doc_b, doc_a FROM verified
    ), reach AS (
      SELECT v, v AS u FROM (SELECT DISTINCT v FROM edges)
      UNION
      SELECT r.v, e.u FROM reach r JOIN edges e ON e.v = r.u
    ), clusters AS (
      SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
    )"""


@register(
    "dedup_near_dup_clusters",
    # Pin: tests/test_rotation_pins.py
    # Recursive-CTE transitive closure: cluster_id = min doc_id
    # reachable through the verified-pair graph.
    oracle=f"""
    {_clusters_oracle_cte()}
    SELECT doc_id, cluster_id FROM clusters
    """,
    doc="Near-dup clusters: connected components (min-label "
        "propagation) over LSH-verified pairs — the keep-one-"
        "representative dedup decision",
    tags=("dedup", "documents", "minhash", "clusters"),
)
def q_near_dup_clusters(spark, sf_dir):
    return near_dup_clusters(load_table(prep(spark), sf_dir, "documents"))


def cluster_keep_best(
    docs: DataFrame,
    threshold: float = 0.2,
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup
    cluster keep the HIGHEST-quality member (ties to the lowest
    doc_id) — the production dedup policy (keep the longest/cleanest
    copy), vs ``near_dup_clusters``'s min-id label which is a cluster
    NAME, not a keep decision.

    Output: (doc_id, cluster_id, canonical_doc_id, keep) for every
    clustered doc. Arg-max is the packed-struct max — one hash
    aggregate over the CLUSTER relation (pair-graph-sized, not
    corpus-sized): max(struct(quality, -doc_id)) is exact integer
    ordering for (quality desc, doc_id asc); no per-cluster sort, no
    window. The quality join ships only (doc_id, quality) — the text
    never reshuffles."""
    clusters = near_dup_clusters(docs, threshold=threshold)
    # NULL quality -> sentinel below any real value (n_chars >= 0):
    # a cluster whose every member lacks the quality column must still
    # pick a canonical (min doc_id), identically on both engines — a
    # NULL-valued struct-max field and the oracle's `n_chars = max`
    # equality would otherwise diverge (code-review r7 finding).
    feats = docs.select(
        "doc_id",
        F.coalesce(F.col(quality_col).cast("long"), F.lit(-1)).alias("_q"),
    )
    j = clusters.join(feats, "doc_id")
    best = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("_q"), (-F.col("doc_id")).alias("_nd"))
        ).alias("_b")
    )
    canon = best.select(
        "cluster_id", (-F.col("_b._nd")).alias("canonical_doc_id")
    )
    return clusters.join(canon, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "canonical_doc_id",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("keep"),
    )


@register(
    "dedup_cluster_keep_best",
    # Pin: tests/test_rotation_pins.py
    # Reuses the transitive-closure CTE; canonical member = max
    # n_chars then min doc_id, stated as max-filter + min rather than
    # a window so the oracle stays deterministic under ties.
    oracle=f"""
    {_clusters_oracle_cte()}, q AS (
      SELECT c.doc_id, c.cluster_id,
             coalesce(d.n_chars, -1) AS n_chars
      FROM clusters c JOIN documents d USING (doc_id)
    ), cmax AS (
      SELECT cluster_id, max(n_chars) AS mx FROM q GROUP BY 1
    ), canon AS (
      SELECT q.cluster_id, min(q.doc_id) AS canonical_doc_id
      FROM q JOIN cmax m
        ON m.cluster_id = q.cluster_id AND q.n_chars = m.mx
      GROUP BY 1
    )
    SELECT c.doc_id, c.cluster_id, n.canonical_doc_id,
           c.doc_id = n.canonical_doc_id AS keep
    FROM clusters c JOIN canon n USING (cluster_id)
    """,
    doc="Quality-aware near-dup canonical selection: within each "
        "LSH-verified cluster keep the longest member (ties to lowest "
        "doc_id) via a packed-struct arg-max over the pair-graph-"
        "sized cluster relation — the keep-the-best-copy dedup "
        "decision a training pipeline applies",
    tags=("dedup", "documents", "minhash", "clusters"),
)
def q_cluster_keep_best(spark, sf_dir):
    return cluster_keep_best(load_table(prep(spark), sf_dir, "documents"))


@register(
    "dedup_simhash_near_pairs",
    # Pin: tests/test_rotation_pins.py
    # Value-oracled since r5 (was rows-only): the md5-derived bit
    # construction (_SimhashVocab: bit b of the row = bit b, LSB-first,
    # of the big-endian int over the md5 digest's first 8 bytes) is
    # reproduced exactly in SQL. The signature is never materialized as
    # one 64-bit value oracle-side — it's built as four 16-bit chunks
    # (DuckDB's checked shift rejects 1<<63), and Hamming distance is
    # the sum of per-chunk XOR popcounts, bit-identical to the engine's
    # bit_count(xor) over the full word. The hot-bucket cap (QUALIFY
    # count <= BUCKET_CAP) and the empty-document all-zero signature
    # are mirrored too, so this is an exact twin, not an approximation.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS tok
        FROM documents
      ) WHERE tok <> ''
    ), bits AS (
      SELECT doc_id, b,
             CASE WHEN sum(CASE WHEN ((('0x' || substr(md5(tok), 1, 16))
                                       ::UBIGINT >> b) & 1) = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM toks, unnest(range(0, 64)) t(b)
      GROUP BY doc_id, b
    ), chunks AS (
      SELECT doc_id, CAST(b // 16 AS INT) AS chunk_id,
             CAST(sum(bit * (1::BIGINT << CAST(b % 16 AS INT)))
               AS BIGINT) AS chunk
      FROM bits GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, ci, 0::BIGINT
      FROM documents, unnest([0, 1, 2, 3]) t(ci)
      WHERE trim(text) = ''
    ), capped AS (
      SELECT * FROM chunks
      QUALIFY count(*) OVER (PARTITION BY chunk_id, chunk) <= {BUCKET_CAP}
    ), pairs AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM capped l JOIN capped r
        ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk
       AND l.doc_id < r.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(sum(bit_count(xor(cl.chunk, cr.chunk))) AS INT) AS hamming
    FROM pairs p
    JOIN chunks cl ON cl.doc_id = p.doc_a
    JOIN chunks cr ON cr.doc_id = p.doc_b AND cr.chunk_id = cl.chunk_id
    GROUP BY 1, 2
    HAVING sum(bit_count(xor(cl.chunk, cr.chunk))) <= 8
    """,
    doc="SimHash near-dup pairs (Hamming<=8, 16-bit chunk banding) — "
        "Arrow-batched Pandas UDF escape hatch, value-hash-checked "
        "against an exact SQL twin of the md5 bit construction",
    tags=("dedup", "documents", "simhash", "pandas-udf"),
)
def q_simhash(spark, sf_dir):
    return simhash_near_pairs(load_table(prep(spark), sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Cross-corpus line-level dedup (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame, min_docs: int = 2, key: str = "doc_id"
) -> DataFrame:
    """Drop every non-blank line whose exact (trimmed) content appears
    in >= ``min_docs`` DISTINCT documents — the CCNet/RefinedWeb
    boilerplate filter (navigation bars, cookie banners, footers
    repeat across pages; body text does not), complementing the
    document-level dedup families: it removes duplicated CONTENT from
    documents that are themselves unique.

    Returns (doc_id, text, n_lines_kept, n_lines_dropped) with the
    surviving lines rejoined in original order; documents whose every
    line is boilerplate survive with empty text (the quality gate
    downstream drops them — this operator's contract is line removal,
    not document removal).

    Scale shape: two shuffles. (1) line-frequency aggregate keyed by
    md5(line) — count(DISTINCT doc) per line hash with map-side
    partial; only (hash, doc_id) pairs shuffle, 24 bytes/line. (2)
    rebuild groupBy doc_id carrying (pos, line) — this one moves line
    text, unavoidable for reconstruction, and shuffles only KEPT
    lines. The frequency side is the classic skew point (the empty
    string or a ubiquitous footer can hit billions of rows) —
    count(DISTINCT) over (hash, doc) two-level aggregates exactly like
    the salted-distinct family, and blank lines never enter the
    explode.
    """
    lines = spread(docs, key).select(
        F.col(key),
        F.posexplode(
            F.filter(
                F.transform(F.split("text", "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        ).alias("pos", "line"),
    )
    lines = persist_tracked(lines)
    freq = lines.groupBy(F.md5("line").alias("_h")).agg(
        F.countDistinct(key).alias("_n_docs")
    )
    tagged = lines.join(
        freq.filter(F.col("_n_docs") >= min_docs).select(
            "_h", F.lit(True).alias("_boiler")
        ),
        F.md5(F.col("line")) == F.col("_h"),
        "left",
    )
    rebuilt = (
        tagged.groupBy(key)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text"),
            F.sum(F.col("_boiler").isNull().cast("long")).alias(
                "n_lines_kept"
            ),
            F.sum(F.col("_boiler").isNotNull().cast("long")).alias(
                "n_lines_dropped"
            ),
        )
    )
    # Documents with zero non-blank lines never entered the explode;
    # restore them (kept verbatim: nothing to dedup).
    missing = docs.join(rebuilt.select(key), key, "left_anti").select(
        key,
        F.col("text"),
        F.lit(0).cast("long").alias("n_lines_kept"),
        F.lit(0).cast("long").alias("n_lines_dropped"),
    )
    return rebuilt.unionByName(missing)


@register(
    "dedup_line_boilerplate",
    # Pure-python pin: tests/test_rotation_pins.py.
    # Oracle mirror notes: (1) DuckDB's zipped unnest pairs each line
    # with its 1-based position (ordering key only — not emitted);
    # (2) coalesce('' ) matches Spark's concat_ws over an empty kept
    # set; (3) the restore branch uses coalesce(len(ls), 0) so a NULL
    # text restores on both engines (Spark's left_anti restores it);
    # (4) grouping lines by their literal text is equivalent to the
    # engine's md5(line) shuffle key (the hash is a transport
    # optimization, not a semantic).
    oracle="""
    WITH fl AS (
      SELECT doc_id, text,
             list_filter(
               list_transform(string_split(text, chr(10)), x -> trim(x)),
               x -> x <> '') AS ls
      FROM documents
    ),
    lines AS (
      SELECT doc_id, unnest(ls) AS line,
             unnest(range(1, len(ls) + 1)) AS pos
      FROM fl WHERE len(ls) > 0
    ),
    freq AS (
      SELECT line, count(DISTINCT doc_id) >= 2 AS boiler
      FROM lines GROUP BY line
    ),
    rebuilt AS (
      SELECT l.doc_id,
             coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                        FILTER (WHERE NOT f.boiler), '') AS text,
             CAST(count(*) FILTER (WHERE NOT f.boiler) AS BIGINT)
               AS n_lines_kept,
             CAST(count(*) FILTER (WHERE f.boiler) AS BIGINT)
               AS n_lines_dropped
      FROM lines l JOIN freq f USING (line)
      GROUP BY l.doc_id
    )
    SELECT * FROM rebuilt
    UNION ALL
    SELECT doc_id, text, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM fl WHERE coalesce(len(ls), 0) = 0
    """,
    doc="CCNet/RefinedWeb boilerplate-line removal: drop every line "
        "appearing in >= 2 distinct documents, rebuild survivors in "
        "order — line-level dedup complementing the document-level "
        "families",
    tags=("dedup", "documents", "text"),
)
def q_line_boilerplate(spark, sf_dir):
    return line_dedup(load_table(prep(spark), sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Exact-substring dedup (the "ExactSubstr" pass of Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", ACL'22):
# remove every token span belonging to a k-token run that occurs more
# than once in the corpus. Complements the document-level families the
# same way line_dedup does — it removes duplicated PASSAGES from
# documents that are themselves unique. The single-machine reference
# implementation is a suffix array; the distributed shape is the
# k-gram inverted index: the gram-keyed shuffle IS the honest cost of
# exact-substring matching at 100 TB (suffix arrays do not shard), and
# only the DUPLICATED gram subset ever joins back against documents.

SUBSTR_K = 10


def _positioned_grams(docs: DataFrame, k: int, key: str) -> DataFrame:
    """(key, pos, gram): every k-token run with its 1-based start
    position, where ``gram`` is the md5 DIGEST of the k-token text,
    not the text itself — the shuffle key for both the frequency
    aggregate and the join-back, so shrinking it from ~70 bytes of
    text to a 32-char digest cuts the dominant shuffle's bytes in
    half (measured at sf10: 23M occurrences; equality on the digest
    is equality on the gram up to md5 collisions, the same accepted
    trade every hash-keyed dedup stage here makes). Tokens bound
    before the gram build (the standard CSE rule); explode_outer +
    isnotnull, not explode, so Catalyst cannot push an inferred
    size-filter with the gram expression inlined into the scan (same
    finding as pipeline.decontaminate, PLANS.md)."""
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at(F.col("_t"), i + j) for j in range(k)],
                )
            ).alias("gram"),
        ),
    )
    return (
        spread(docs, key)
        .select(F.col(key), tokens_expr().alias("_t"))
        .select(
            key,
            F.when(F.size("_t") >= k, gram_structs)
            .otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
            .alias("_gs"),
        )
        .select(key, F.explode_outer("_gs").alias("_g"))
        .filter(F.col("_g").isNotNull())
        .select(
            key,
            # Runtime guard for the _POS_PACK domain assumption: a
            # document beyond ~1M whitespace tokens would silently
            # corrupt the packed (doc_id, pos) canonical ordering —
            # fail loudly instead (ADVICE r6). Plain codegen branch,
            # no extra pass.
            F.when(F.col("_g.pos") < _POS_PACK, F.col("_g.pos"))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "substring_dedup: token position %s exceeds the "
                        "packable bound 2^20; document too long for the "
                        "packed (doc_id, pos) canonical key",
                        F.col("_g.pos").cast("string"),
                    )
                )
            )
            .alias("pos"),
            F.col("_g.gram").alias("gram"),
        )
    )


# Packed (doc_id, pos) occurrence key: doc_id * 2^20 + pos. Gives the
# canonical (kept) occurrence of a duplicated gram a total order both
# engines compute identically with integer arithmetic; 2^20 bounds
# documents at ~1M whitespace tokens (far above web-document sizes —
# the same class of runtime domain assumption the packed arg-max
# documents).
_POS_PACK = 1 << 20


def substring_dedup(
    docs: DataFrame, k: int = SUBSTR_K, key: str = "doc_id"
) -> DataFrame:
    """Remove every token position covered by a NON-CANONICAL
    occurrence of a k-token run that occurs >= 2 times corpus-wide
    (across documents or within one). The canonical occurrence — the
    one with the smallest packed (doc_id, pos) key — survives, so
    exactly one copy of every duplicated passage remains in the
    corpus: the keep-first semantics of Lee et al.'s ExactSubstr.

    Returns ``(doc_id, text, n_tokens, n_tokens_kept,
    n_tokens_dropped)`` with ``text`` rebuilt from the surviving
    tokens in order (documents with no duplicated run pass through
    with their tokens rejoined verbatim; NULL text stays NULL with
    zero counts).

    Blank-text caveat: a non-NULL all-whitespace/empty ``text``
    reports ``n_tokens = 1`` — split('') yields [''] and this
    operator counts raw split slots so that positions here and in
    the oracle line up one-to-one. That differs from
    ``_corpus_tokens``/``vocab_stats``, which drop blank tokens: the
    two counts answer different questions (split positions vs real
    tokens) and must not be compared across operators.

    Scale shape: (1) gram frequency + canonical key — groupBy(gram)
    count/min with map-side combine; the classic inverted index.
    (2) duplicated grams (count >= 2, typically the small tail)
    inner-join back onto the positioned gram relation — a gram-keyed
    shuffle join; the non-duplicated majority never joins. (3) per-doc
    covered-position aggregation: collect_list of non-canonical start
    positions, bounded by the document's own token count. (4) one
    doc-keyed join back to the corpus for the rebuild — the token
    array never rides the gram shuffle. The per-doc coverage test is
    lambda-free native set algebra (flatten each start's [p, p+k-1]
    window, array_except against sequence(1, n)) — O(n_tokens x k)
    per document; see the inline comment for the two rejected
    lambda-based alternatives and their measured cost.
    """
    grams = _positioned_grams(docs, k, key)
    grams = persist_tracked(grams)
    packed = F.col(key) * _POS_PACK + F.col("pos")
    dup_grams = (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.col(key) * _POS_PACK + F.col("pos")).alias("_cmin"),
        )
        .filter(F.col("_n") >= 2)
        .select("gram", "_cmin")
    )
    dup_pos = (
        grams.join(dup_grams, "gram")
        .filter(packed != F.col("_cmin"))
        .groupBy(key)
        .agg(F.collect_list("pos").alias("_ps"))
    )
    # spread: the rebuild side carries the heavy per-row tail
    # (coverage set algebra + token-array transform + concat_ws); a
    # single-file corpus must not run it on one core. Memoized no-op
    # when _positioned_grams already spread this docs object.
    toked = spread(docs, key).select(
        F.col(key), tokens_expr().alias("_t")
    ).join(dup_pos, key, "left")
    ps = F.coalesce(F.col("_ps"), F.array().cast("array<int>"))
    # Coverage via NATIVE set algebra, deliberately lambda-free:
    # covered = distinct union of each start's [p, p+k-1] window,
    # kept = sequence(1, n) minus covered (array_except preserves the
    # first array's ascending order). O(n_tokens x k) per document —
    # linear in doc length for the constant k.
    #
    # Two rejected alternatives, both measured at sf1 (50k docs, ~45
    # covered starts/doc): (1) a per-token exists() over the raw
    # positions — the lambda re-evaluates its collection argument per
    # token when Catalyst collapses the staging projection away, and
    # any non-trivial collection expression there is quadratic in
    # practice; (2) an interval-merge fold bound in its own projection
    # — CollapseProject re-inlines a once-referenced alias into the
    # downstream filter LAMBDA, re-running the O(p^2) fold per token:
    # 215 s vs 3.3 s for the identical expression. Column-level
    # staging cannot protect an expression referenced from inside a
    # higher-order-function lambda; the robust form is one that needs
    # no lambda at the consumption point.
    covered = F.array_distinct(
        F.flatten(
            F.transform(ps, lambda p: F.sequence(p, p + (k - 1)))
        )
    )
    kept = F.array_except(F.sequence(F.lit(1), F.size("_t")), covered)
    # Bind _kept: it is consumed twice (rebuild + count), and an
    # inlined copy would run the coverage computation twice per row
    # (CollapseProject declines to merge multiply-referenced non-cheap
    # aliases, same rule as shingles_from_tokens).
    staged = toked.select(F.col(key), F.col("_t"), kept.alias("_kept"))
    n_tok = F.size("_t")
    n_kept = F.size("_kept")
    return staged.select(
        key,
        F.when(
            F.col("_t").isNotNull(),
            F.concat_ws(
                " ",
                F.transform(
                    F.col("_kept"), lambda j: F.element_at(F.col("_t"), j)
                ),
            ),
        ).alias("text"),
        F.coalesce(n_tok, F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(n_kept, F.lit(0)).cast("long").alias("n_tokens_kept"),
        F.coalesce(n_tok - n_kept, F.lit(0)).cast("long").alias(
            "n_tokens_dropped"
        ),
    )


def _substring_oracle(k: int = SUBSTR_K) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(k))
    return f"""
    WITH toked AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {k - 2}), i -> i))
               AS pos,
             unnest(list_transform(range(1, len(t) - {k - 2}),
                                   i -> {gram})) AS gram
      FROM toked
    ),
    dup AS (
      SELECT gram, min(doc_id * {_POS_PACK} + pos) AS cmin
      FROM grams GROUP BY gram HAVING count(*) >= 2
    ),
    dpos AS (
      SELECT g.doc_id, list(g.pos) AS ps
      FROM grams g JOIN dup USING (gram)
      WHERE g.doc_id * {_POS_PACK} + g.pos <> dup.cmin
      GROUP BY g.doc_id
    )
    SELECT tk.doc_id,
           -- coalesce('') : DuckDB's array_to_string yields NULL on an
           -- empty list where Spark's concat_ws yields '' (the fully-
           -- elided-document case)
           CASE WHEN tk.t IS NULL THEN NULL
                ELSE coalesce(array_to_string(
                  list_transform(
                    list_filter(range(1, len(tk.t) + 1),
                      j -> len(list_filter(coalesce(d.ps, []),
                             p -> p <= j AND j <= p + {k - 1})) = 0),
                    j -> tk.t[j]), ' '), '')
           END AS text,
           CAST(coalesce(len(tk.t), 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(list_filter(range(1, len(tk.t) + 1),
                  j -> len(list_filter(coalesce(d.ps, []),
                         p -> p <= j AND j <= p + {k - 1})) = 0)), 0)
             AS BIGINT) AS n_tokens_kept,
           CAST(coalesce(len(tk.t), 0)
                - coalesce(len(list_filter(range(1, len(tk.t) + 1),
                    j -> len(list_filter(coalesce(d.ps, []),
                           p -> p <= j AND j <= p + {k - 1})) = 0)), 0)
             AS BIGINT) AS n_tokens_dropped
    FROM toked tk LEFT JOIN dpos d USING (doc_id)
    """


@register(
    "dedup_exact_substring",
    # Pure-python pin: tests/test_rotation_pins.py.
    oracle=_substring_oracle(),
    doc="Exact-substring dedup (Lee et al. ExactSubstr): token spans "
        "of any k-gram occurring >= 2 times corpus-wide are removed "
        "and the text rebuilt — passage-level dedup via the "
        "distributed k-gram inverted index",
    tags=("dedup", "documents", "text"),
)
def q_exact_substring(spark, sf_dir):
    return substring_dedup(load_table(prep(spark), sf_dir, "documents"))
