"""Incremental cross-snapshot dedup: dedup a corpus INCREMENT against
a PERSISTED index without rescanning the historical corpus (VERDICT r8
ask #2 — the top real-pipeline gap).

Production corpora re-crawl. The daily increment must answer "is this
document an exact or near duplicate of ANYTHING we already hold?"
without touching the historical documents themselves — at 100 TB the
history is the one relation you cannot afford to rescan per batch. The
persisted state is therefore two INDEX relations, both tiny relative
to the corpus text:

- fingerprint index ``(text_hash, canonical_doc_id, n_copies)`` — the
  exact_dedup_map output (dedup.py:exact_dedup_map), one row per
  distinct text;
- band index ``(band_id, band_hash, min_doc_id, n_members)`` — one row
  per MinHash-LSH band bucket holding only the bucket's MINIMUM doc id
  and size. This is the streaming near-dup ingest state shape
  (streaming/ingest.py: state = (min id, n) per bucket, O(1) per
  bucket), persisted batch-side: the index NEVER stores members, so
  the hot-bucket N^2 bomb structurally cannot exist on the index probe.

``incremental_dedup`` classifies each increment document:

- ``exact_dup``  — its md5(text) is in the fingerprint index, or an
  EARLIER (smaller doc_id) increment document shares it; canonical =
  the smallest doc id holding that text (first-arrival, the
  arrival-order-independent min-id rule every dedup family here uses);
- ``near_dup``   — no exact match, but at least one of its MinHash
  band buckets is present in the band index or shared with a
  smaller-id increment document; canonical = the smallest such doc id;
- ``new``        — neither; canonical = itself.

Because canonical ids are bucket/hash MINIMA, the incremental verdicts
EQUAL the full-batch semantics computed over history ∪ increment
(given the index contract that history ids precede increment ids) —
pinned in tests/test_incremental.py against a pure-python full-corpus
reference and against batch-split equivalence.

Scale shape: the increment joins the index on (text_hash) and
(band_id, band_hash) — plain equi-joins of an increment-sized relation
against index-sized relations (AQE picks the broadcast side; a daily
increment is typically the small side). There is NO pair join
anywhere, within the increment included: the within-batch near-dup
source is a per-bucket minimum joined back (see incremental_dedup's
docstring), so neither side needs a hot-bucket cap. History text is
never read.

Index maintenance: ``updated_fingerprint_index`` /
``updated_band_index`` produce the post-increment index relations from
(old index, increment) only — a full-outer merge of aggregate-sized
relations. ``merge_fingerprint_index`` persists the delta through
``layout.merge_upsert`` on a hash-prefix-partitioned parquet store, so
only touched hash-prefix directories rewrite (the 26x-at-sf100
partition-scoped merge path).

Reference anchor: the reference engine's only stateful dedup is the
first-seen Set at StreamingJob.scala:157-165; this operator is that
semantics generalized to a persisted cross-snapshot index with the
LSH near-dup family layered on, per the extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.caching import persist_tracked
from flink_exercise_spark.operators.dedup import (
    BAND_ROWS,
    N_MINHASH,
    _banded_signatures,
    exact_dedup_map,
    minhash_signatures,
)
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

# Registered-entry fixture split: doc_id < SPLIT is the "historical
# snapshot" the index is built from; doc_id >= SPLIT is the increment.
# At both sf0.001 and sf0.01 this yields cross-snapshot AND
# within-increment near-dups (probed: 15 cross + 8 within at sf0.01).
SNAPSHOT_SPLIT = 250


def fingerprint_index(docs: DataFrame) -> DataFrame:
    """The exact-dedup index: ``(text_hash, canonical_doc_id,
    n_copies)`` — exact_dedup_map's output MINUS the NULL-fingerprint
    group: NULL text has no content identity, never matches a join,
    and keeping it in the index would drift its n_copies on every
    merge (NULL keys don't combine across full-outer joins or the
    MERGE's anti-join — code-review r9). incremental_dedup gives
    NULL-text documents verdict 'new' without consulting the index."""
    return exact_dedup_map(docs).filter(F.col("text_hash").isNotNull())


def band_index(
    docs: DataFrame, k: int = N_MINHASH, r: int = BAND_ROWS
) -> DataFrame:
    """The near-dup index: ``(band_id, band_hash, min_doc_id,
    n_members)`` — one O(1) row per LSH band bucket (min id + size,
    the streaming ingest state shape), never the member list."""
    banded = _banded_signatures(minhash_signatures(docs, k), k, r)
    return banded.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("min_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def incremental_dedup(
    increment: DataFrame,
    fingerprints: DataFrame,
    bands: DataFrame,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
) -> DataFrame:
    """Classify each increment document against the persisted index +
    the increment itself: ``(doc_id, verdict, canonical_doc_id)`` with
    verdict in ('exact_dup', 'near_dup', 'new').

    Exact beats near; canonical is always the MINIMUM doc id among the
    matching sources, so verdicts are arrival-order independent and
    equal the full-batch semantics over history ∪ increment (index
    contract: history ids precede increment ids). NULL-text documents
    have no fingerprint and no shingles: verdict 'new', canonical
    themselves — identical in the SQL twin (md5(NULL) is NULL and
    joins never match on NULL).

    No pair join anywhere — including within the increment: the
    near-dup source we need per document is only the MINIMUM
    smaller-id bucket sharer, and the minimum over a bucket is a
    per-bucket aggregate, not a pair enumeration (min_b < d is
    exactly "some member smaller than d", and it is the smallest).
    So the within-batch relation is groupBy(bucket).min + a join
    back — O(members) — and the hot-bucket N^2 bomb that forces
    BUCKET_CAP onto minhash_band_pairs structurally cannot exist
    here, which also keeps one-batch == two-batch equivalence exact
    on adversarial all-duplicate batches (code-review r9: the capped
    self-join formulation silently dropped >cap buckets' verdicts).
    """
    from flink_exercise_spark.functions.exprmemo import expr_memo

    # static expression trees (r14 exprmemo)
    E = expr_memo(
        "incremental_dedup",
        lambda: {
            "hash": F.md5("text").alias("text_hash"),
            "inc_first": F.min("doc_id").alias("_inc_first"),
            "idx_exact": F.col("canonical_doc_id").alias("_idx_exact"),
            "exact_src": F.least("_idx_exact", "_inc_first")
            .alias("_exact_src"),
            "idx_m": F.col("min_doc_id").alias("_m"),
            "idx_near": F.min("_m").alias("_idx_near"),
            "bmin": F.min("doc_id").alias("_bmin"),
            "bmin_lt": F.col("_bmin") < F.col("doc_id"),
            "inc_near": F.min("_bmin").alias("_inc_near"),
            "near_src": F.least("_idx_near", "_inc_near")
            .alias("_near_src"),
        },
    )
    inc = spread(increment, "doc_id")
    hashed = persist_tracked(inc.select("doc_id", E["hash"]))
    inc_first = hashed.groupBy("text_hash").agg(E["inc_first"])
    exact = (
        hashed.join(
            fingerprints.select("text_hash", E["idx_exact"]),
            "text_hash",
            "left",
        )
        .join(inc_first, "text_hash", "left")
        .select("doc_id", E["exact_src"])
    )

    banded = persist_tracked(
        _banded_signatures(minhash_signatures(increment, k), k, r)
    )
    idx_near = (
        banded.join(
            bands.select("band_id", "band_hash", E["idx_m"]),
            ["band_id", "band_hash"],
        )
        .groupBy("doc_id")
        .agg(E["idx_near"])
    )
    # within-increment: per-bucket minimum joined back (no pair join,
    # see docstring); min_b < d <=> a smaller-id member shares the
    # bucket, and min_b is then the smallest such
    bucket_min = banded.groupBy("band_id", "band_hash").agg(E["bmin"])
    within_near = (
        banded.join(bucket_min, ["band_id", "band_hash"])
        .filter(E["bmin_lt"])
        .groupBy("doc_id")
        .agg(E["inc_near"])
    )

    joined = (
        exact.join(idx_near, "doc_id", "left")
        .join(within_near, "doc_id", "left")
        .select("doc_id", "_exact_src", E["near_src"])
    )
    verdict_cols = expr_memo(
        "incremental_verdict",
        lambda: _incremental_verdict_cols(),
    )
    return joined.select("doc_id", *verdict_cols)


def _incremental_verdict_cols():
    is_exact = F.col("_exact_src") < F.col("doc_id")
    is_near = F.col("_near_src") < F.col("doc_id")
    return (
        F.when(is_exact, F.lit("exact_dup"))
        .when(is_near, F.lit("near_dup"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.when(is_exact, F.col("_exact_src"))
        .when(is_near, F.col("_near_src"))
        .otherwise(F.col("doc_id"))
        .cast("long")
        .alias("canonical_doc_id"),
    )


def updated_fingerprint_index(
    fingerprints: DataFrame, increment: DataFrame
) -> DataFrame:
    """Post-increment fingerprint index from (old index, increment)
    ONLY — full-outer merge on text_hash: canonical = min across both
    sides, counts add. History text is never read. NULL-text increment
    rows carry no fingerprint and are excluded (they can never match)."""
    inc_agg = (
        increment.select(F.md5("text").alias("text_hash"), "doc_id")
        .filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("_c2"),
            F.count(F.lit(1)).alias("_n2"),
        )
    )
    return (
        fingerprints.withColumnRenamed("canonical_doc_id", "_c1")
        .withColumnRenamed("n_copies", "_n1")
        .join(inc_agg, "text_hash", "full_outer")
        .select(
            "text_hash",
            F.least("_c1", "_c2").cast("long").alias("canonical_doc_id"),
            (
                F.coalesce("_n1", F.lit(0)) + F.coalesce("_n2", F.lit(0))
            ).cast("long").alias("n_copies"),
        )
    )


def updated_band_index(
    bands: DataFrame,
    increment: DataFrame,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
) -> DataFrame:
    """Post-increment band index: full-outer merge of the O(1)-per-
    bucket aggregates — min ids combine by min, sizes add."""
    inc_bands = band_index(increment, k, r)
    return (
        bands.withColumnRenamed("min_doc_id", "_m1")
        .withColumnRenamed("n_members", "_n1")
        .join(
            inc_bands.withColumnRenamed("min_doc_id", "_m2")
            .withColumnRenamed("n_members", "_n2"),
            ["band_id", "band_hash"],
            "full_outer",
        )
        .select(
            "band_id",
            "band_hash",
            F.least("_m1", "_m2").cast("long").alias("min_doc_id"),
            (
                F.coalesce("_n1", F.lit(0)) + F.coalesce("_n2", F.lit(0))
            ).cast("long").alias("n_members"),
        )
    )


# Hash-prefix partition column for the persisted index stores
# (fingerprints partition on text_hash, band buckets on band_hash):
# 256 directories, so a CDC merge rewrites only the prefixes the
# increment's hashes land in. The value is LETTER-PREFIXED ("h3f",
# not "3f"): an all-digit hex prefix like "00" would be read back as
# INT 0 by Spark's partition-type inference, mangling the
# touched-bucket filter and forking bucket=00 into a new bucket=0
# directory on the dynamic overwrite (code-review r9, reproduced
# reasoning) — a non-numeric first character makes inference
# unconditionally string. ONE implementation so the two stores'
# layouts can never diverge on the prefix scheme.
def _prefix_bucket(hash_col: str) -> F.Column:
    return F.concat(
        F.lit("h"), F.substring(hash_col, 1, 2)
    ).alias("bucket")


def _merge_index(
    spark,
    path: str,
    upsert_side: DataFrame,
    key: str,
    base_cols: tuple[str, str],
    merged_exprs,
    versioned: bool = False,
) -> dict[str, int]:
    """The shared partition-scoped index-merge skeleton (both index
    halves): collect touched prefixes from the increment aggregate,
    partition-pruned read of the stored values for those prefixes,
    left-join + combine, rewrite of only the touched directories.
    ``upsert_side`` must carry (key, _v2-cols, bucket); ``base_cols``
    names the stored value columns (aliased to _m1/_n1);
    ``merged_exprs`` builds the post-state columns.

    ``versioned=True`` runs the same merge against a manifest store
    (operators/manifest.py): the base read pins the live snapshot and
    the rewrite publishes a new one atomically, so concurrent readers
    never see a half-merged prefix directory (closing
    layout.merge_upsert's documented transactional seam for the index
    stores, VERDICT r9 ask #4)."""
    from pyspark.errors import AnalysisException

    from flink_exercise_spark.operators import manifest as mf
    from flink_exercise_spark.operators.layout import merge_upsert

    # ONE action folds the touched-prefix collect with the increment's
    # minimum id — the cheap half of the id-ordering guard below.
    probe = upsert_side.agg(
        F.collect_set("bucket").alias("_buckets"),
        F.min("_m2").alias("_min_inc"),
    ).first()
    buckets, min_inc = probe["_buckets"], probe["_min_inc"]
    bootstrap_msg = (
        f"no index store at {path!r} — the merge maintains an "
        "EXISTING index; bootstrap one first with "
        "write_fingerprint_index / write_band_index (or their "
        "_versioned twins) over the initial corpus"
    )
    if versioned:
        if mf.current_version(path) is None:
            raise ValueError(bootstrap_msg)
        stored = mf.versioned_read(spark, path)
    else:
        try:
            stored = spark.read.parquet(path)
        except AnalysisException as e:
            raise ValueError(bootstrap_msg) from e
    base = (
        stored
        .filter(F.col("bucket").isin(buckets))  # -> PartitionFilters
        .select(
            key,
            F.col(base_cols[0]).alias("_m1"),
            F.col(base_cols[1]).alias("_n1"),
        )
    )
    # Index contract guard (r9 ADVICE): incremental_dedup's verdicts
    # equal full-batch semantics ONLY when every stored id precedes
    # every increment id — an out-of-order increment would silently
    # flip canonicals away from history without re-classifying it.
    # Checked on the partitions this merge already reads: any stored
    # min/canonical >= the increment's minimum id is a violation.
    stored_max = base.agg(F.max("_m1")).first()[0]
    if (
        min_inc is not None
        and stored_max is not None
        and min_inc <= stored_max
    ):
        raise ValueError(
            f"id-ordering contract violated: increment min doc_id "
            f"{min_inc} <= stored max canonical/min id {stored_max} "
            "on the touched partitions — index ids must precede "
            "increment ids (assign monotone ids across snapshots)"
        )
    upserts = upsert_side.join(base, key, "left").select(*merged_exprs)
    # The writer re-derives touched partitions from the upsert rows;
    # localCheckpoint inside it materializes before the rewrite.
    if versioned:
        return mf.versioned_merge_upsert(
            spark, path, upserts, key, partition_col="bucket"
        )
    return merge_upsert(spark, path, upserts, key, partition_col="bucket")


def _fingerprint_store_rows(docs: DataFrame) -> DataFrame:
    """The fingerprint index in its on-disk projection (bucket = the
    letter-prefixed 2-hex-char hash prefix both writers prune on)."""
    return fingerprint_index(docs).select(
        "text_hash", "canonical_doc_id", "n_copies",
        _prefix_bucket("text_hash"),
    )


def write_fingerprint_index(docs: DataFrame, path: str) -> None:
    """Materialize the fingerprint index partitioned by 2-hex-char
    hash prefix — the layout ``merge_fingerprint_index`` prunes on."""
    _fingerprint_store_rows(docs).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def write_fingerprint_index_versioned(docs: DataFrame, path: str) -> int:
    """Bootstrap the fingerprint index as a MANIFEST store (snapshot
    isolation for readers during later merges; operators/manifest.py)."""
    from flink_exercise_spark.operators import manifest as mf

    return mf.versioned_write(_fingerprint_store_rows(docs), path)


def merge_fingerprint_index(
    spark, path: str, increment: DataFrame, versioned: bool = False
) -> dict[str, int]:
    """Persist an increment into the on-disk fingerprint index via the
    partition-scoped MERGE: compute post-state rows for TOUCHED hashes
    only (increment aggregate + current index values for those hashes,
    a partition-pruned read), then rewrite only the touched hash-prefix
    directories. The historical corpus and the untouched index
    partitions are never read or written. ``versioned=True`` targets a
    manifest store (atomic snapshot publish; see _merge_index)."""
    inc_agg = persist_tracked(
        increment.select(F.md5("text").alias("text_hash"), "doc_id")
        .filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("_m2"),
            F.count(F.lit(1)).alias("_n2"),
        )
        .select("text_hash", "_m2", "_n2", _prefix_bucket("text_hash"))
    )
    return _merge_index(
        spark,
        path,
        inc_agg,
        "text_hash",
        ("canonical_doc_id", "n_copies"),
        (
            "text_hash",
            F.least("_m1", "_m2").cast("long").alias("canonical_doc_id"),
            (F.coalesce("_n1", F.lit(0)) + F.col("_n2"))
            .cast("long")
            .alias("n_copies"),
            "bucket",
        ),
        versioned=versioned,
    )


def write_band_index(
    docs: DataFrame,
    path: str,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
) -> None:
    """Materialize the MinHash band index partitioned by letter-
    prefixed band_hash prefix (the ``write_fingerprint_index`` layout
    rationale) with a single ``bucket_key`` merge key — band_id and
    band_hash concatenated, since ``merge_upsert`` merges on ONE key
    column and (band_id, band_hash) is the bucket's identity."""
    _band_store_rows(docs, k, r).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def _band_store_rows(
    docs: DataFrame, k: int = N_MINHASH, r: int = BAND_ROWS
) -> DataFrame:
    """The band index in its on-disk projection (see
    write_band_index's layout rationale)."""
    return band_index(docs, k, r).select(
        F.concat_ws("|", F.col("band_id").cast("string"), "band_hash")
        .alias("bucket_key"),
        "band_id",
        "band_hash",
        "min_doc_id",
        "n_members",
        _prefix_bucket("band_hash"),
    )


def write_band_index_versioned(
    docs: DataFrame,
    path: str,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
) -> int:
    """Bootstrap the band index as a MANIFEST store (snapshot
    isolation for readers during later merges; operators/manifest.py)."""
    from flink_exercise_spark.operators import manifest as mf

    return mf.versioned_write(_band_store_rows(docs, k, r), path)


def merge_band_index(
    spark,
    path: str,
    increment: DataFrame,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
    versioned: bool = False,
) -> dict[str, int]:
    """Persist an increment's band-bucket aggregates into the on-disk
    band index via the partition-scoped MERGE — the near-dup half of
    the index-maintenance story (``merge_fingerprint_index`` is the
    exact half): post-state rows for TOUCHED buckets only (increment
    bucket aggregate merged with the current stored minima/counts, a
    partition-pruned read), then only the touched hash-prefix
    directories rewrite. Minima combine by min and counts add, so
    merged state equals ``band_index(history ∪ increment)`` row for
    row — batch-boundary associativity, same as the in-memory
    ``updated_band_index``."""
    # persist: the banded aggregate (the module's most expensive
    # subtree) otherwise re-executes for the touched-prefix collect,
    # merge_upsert's key-uniqueness/count/partition probes, and the
    # checkpoint materialization — ~5 evaluations (code-review r9)
    inc_bands = persist_tracked(
        band_index(increment, k, r).select(
            F.concat_ws(
                "|", F.col("band_id").cast("string"), "band_hash"
            ).alias("bucket_key"),
            "band_id",
            "band_hash",
            F.col("min_doc_id").alias("_m2"),
            F.col("n_members").alias("_n2"),
            _prefix_bucket("band_hash"),
        )
    )
    return _merge_index(
        spark,
        path,
        inc_bands,
        "bucket_key",
        ("min_doc_id", "n_members"),
        (
            "bucket_key",
            "band_id",
            "band_hash",
            F.least("_m1", "_m2").cast("long").alias("min_doc_id"),
            (F.coalesce("_n1", F.lit(0)) + F.col("_n2"))
            .cast("long")
            .alias("n_members"),
            "bucket",
        ),
        versioned=versioned,
    )


def read_band_index(spark, path: str) -> DataFrame:
    """The stored band index in the ``incremental_dedup`` input shape
    (band_id, band_hash, min_doc_id, n_members)."""
    return spark.read.parquet(path).select(
        "band_id", "band_hash", "min_doc_id", "n_members"
    )


def read_band_index_versioned(spark, path: str) -> DataFrame:
    """Snapshot-pinned band-index read (manifest store twin of
    read_band_index)."""
    from flink_exercise_spark.operators import manifest as mf

    return mf.versioned_read(spark, path).select(
        "band_id", "band_hash", "min_doc_id", "n_members"
    )


def read_fingerprint_index_versioned(spark, path: str) -> DataFrame:
    """Snapshot-pinned fingerprint-index read in incremental_dedup's
    input shape."""
    from flink_exercise_spark.operators import manifest as mf

    return mf.versioned_read(spark, path).select(
        "text_hash", "canonical_doc_id", "n_copies"
    )


def _incremental_oracle(
    split: int = SNAPSHOT_SPLIT,
    k: int = N_MINHASH,
    r: int = BAND_ROWS,
) -> str:
    """Full-batch SQL twin over history ∪ increment: the incremental
    verdicts must equal the batch min-smaller-id semantics (the whole
    point of the min-id index construction)."""
    from flink_exercise_spark.operators.dedup import _banded_oracle_cte

    return f"""
    WITH {_banded_oracle_cte(k, r)},
    nearmin AS (
      SELECT l.doc_id, min(r.doc_id) AS near_src
      FROM banded l JOIN banded r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       AND r.doc_id < l.doc_id
      GROUP BY l.doc_id
    ),
    exmin AS (
      SELECT md5(text) AS th, min(doc_id) AS first_id
      FROM documents GROUP BY 1
    )
    SELECT d.doc_id,
           CASE WHEN em.first_id < d.doc_id THEN 'exact_dup'
                WHEN nm.near_src IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           CAST(CASE WHEN em.first_id < d.doc_id THEN em.first_id
                     WHEN nm.near_src IS NOT NULL THEN nm.near_src
                     ELSE d.doc_id END AS BIGINT) AS canonical_doc_id
    FROM documents d
    LEFT JOIN exmin em ON md5(d.text) = em.th
    LEFT JOIN nearmin nm ON nm.doc_id = d.doc_id
    WHERE d.doc_id >= {split}
    """


@register(
    "dedup_incremental_snapshot",
    # Pin: tests/test_incremental.py fixture-vs-reference
    oracle=_incremental_oracle(),
    doc="Incremental cross-snapshot dedup: classify an increment "
        "(doc_id >= 250) against a persisted fingerprint + MinHash "
        "band index built from the historical snapshot (doc_id < "
        "250) — exact/near/new verdicts with first-arrival canonical "
        "ids; history text never rescanned, only index joins. "
        "CONTRACT: all index ids precede increment ids (guarded in "
        "the persisted-merge path, _merge_index)",
    tags=("dedup", "documents", "minhash", "incremental"),
)
def q_incremental_snapshot(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    history = docs.filter(F.col("doc_id") < SNAPSHOT_SPLIT)
    increment = docs.filter(F.col("doc_id") >= SNAPSHOT_SPLIT)
    return incremental_dedup(
        increment, fingerprint_index(history), band_index(history)
    )
