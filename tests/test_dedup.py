"""Behavioral tests for dedup operators on crafted corpora with known
duplicate structure (the fixture corpus has no labeled duplicates, so
the oracle-parity tests check engine parity, and these check the
operators actually *find* what they claim to find)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.operators.dedup import (
    exact_dedup_map,
    jaccard_pairs,
    minhash_band_pairs,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
    _simhash64,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the late afternoon sun"
)
NEAR = BASE.replace("lazy", "sleepy")  # one word differs
FAR = (
    "completely different content about distributed query engines "
    "processing petabytes of shuffled columnar data every single day"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE, "en", "s0"),
        (1, BASE, "en", "s1"),        # exact dup of 0
        (2, NEAR, "en", "s0"),        # near dup of 0
        (3, FAR, "en", "s0"),
        (4, "tiny doc", "en", "s0"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_stats_and_map(corpus):
    m = {r["canonical_doc_id"]: r["n_copies"] for r in exact_dedup_map(corpus).collect()}
    # corpus accounting is an aggregate over the map: 5 docs, 4 texts
    assert (sum(m.values()), len(m)) == (5, 4)
    assert m[0] == 2  # docs 0 and 1 collapse to canonical 0


def test_minhash_identical_docs_identical_sigs(corpus):
    sigs = {r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
            for r in minhash_signatures(corpus).collect()}
    assert sigs[0] == sigs[1]             # exact dups: all hashes equal
    shared_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert shared_near >= 1               # near dup: most minima survive
    shared_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert shared_far == 0                # disjoint shingles: none
    assert 4 not in sigs                  # <3 tokens -> no signature


def test_band_pairs_find_dups_not_far(corpus):
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_band_pairs(corpus).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_jaccard_scores(corpus):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_pairs(corpus, threshold=0.1).collect()}
    assert got[(0, 1)] == 1.0
    assert 0.3 < got[(0, 2)] < 1.0        # one word changed -> high but <1
    assert (0, 3) not in got


def test_simhash_python_kernel_deterministic():
    a = _simhash64(BASE)
    assert a == _simhash64(BASE)
    assert a != _simhash64(FAR)
    assert -(1 << 63) <= a < (1 << 63)


def test_simhash_near_pairs(corpus, spark):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(corpus).collect()}
    assert sigs[0] == sigs[1]
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_pairs(corpus, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    # near-dup should be within a few bits; far doc should not pair at
    # hamming<=10 unless chunks coincidentally collide
    if (0, 2) in pairs:
        assert pairs[(0, 2)] <= 10
    assert (0, 3) not in pairs


def test_persists_released_between_registry_queries(spark):
    """Operators persist multi-use relations; the NEXT registry query's
    entry must release them (caching.py) so cached blocks never
    accumulate across a long-lived driver session."""
    from flink_exercise_spark.registry import specs
    from tests.conftest import SF_SMOKE

    jsc = spark.sparkContext._jsc
    S = specs()
    S["dedup_jaccard_pairs"].fn(spark, SF_SMOKE).count()
    assert jsc.getPersistentRDDs().size() > 0  # persisted while in use
    # any subsequent registry query releases the previous one's cache
    S["a2_count_events"].fn(spark, SF_SMOKE).count()
    assert jsc.getPersistentRDDs().size() == 0


def test_connected_components_checkpoints_released(spark):
    """Connected components checkpoints its labels every round; those
    blocks are tracked like persists, so ``release_persisted`` after
    the clusters' action leaves no persistent RDD behind."""
    from flink_exercise_spark.caching import release_persisted
    from flink_exercise_spark.registry import specs
    from tests.conftest import SF_SMOKE

    jsc = spark.sparkContext._jsc
    assert specs()["dedup_near_dup_clusters"].fn(spark, SF_SMOKE).collect()
    release_persisted()
    assert jsc.getPersistentRDDs().size() == 0


def test_bucket_cap_bounds_identical_doc_blowup(spark):
    """100 identical docs collide in every band bucket: uncapped, the
    band join emits 100*99/2 = 4950 pairs; with the cap the hot buckets
    drop out entirely and the audit channel reports them. This is the
    N-identical-docs N^2 skew bomb the cap exists for."""
    from flink_exercise_spark.operators.dedup import lsh_hot_buckets

    rows = [(i, BASE, "en", "s0") for i in range(100)] + [
        (100, NEAR, "en", "s0"),
        (101, FAR, "en", "s0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    uncapped = minhash_band_pairs(docs, bucket_cap=None).count()
    assert uncapped >= 4950  # the blow-up is real
    capped = minhash_band_pairs(docs, bucket_cap=50)
    pairs = capped.collect()
    # Hot buckets (the 100-identical cluster, plus NEAR when it shares
    # a band with them) are gone; output is bounded by cap^2/2 per
    # bucket, nowhere near the quadratic count.
    assert len(pairs) <= 50 * 49 // 2
    for row in pairs:
        assert row["doc_a"] not in range(100) or row["doc_b"] not in range(100)
    # Audit channel names the dropped buckets with their sizes.
    hot = lsh_hot_buckets(docs, cap=50).collect()
    assert hot and all(r["n_members"] >= 100 for r in hot)


def test_simhash_bucket_cap(spark):
    """Same bomb through the SimHash chunk join: identical docs share
    all four 16-bit chunks; the cap drops those buckets."""
    rows = [(i, BASE, "en", "s0") for i in range(60)] + [(60, FAR, "en", "s0")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    assert simhash_near_pairs(docs, bucket_cap=None).count() >= 60 * 59 // 2
    assert simhash_near_pairs(docs, bucket_cap=30).count() == 0


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C near-dup (A and C NOT directly similar enough to
    pair) must still land in ONE cluster labeled min(doc_id) —
    transitivity is the point of the connected-components pass."""
    from flink_exercise_spark.operators.dedup import near_dup_clusters

    a = BASE
    b = BASE.replace("lazy", "sleepy")
    c = BASE.replace("lazy", "sleepy").replace("quick", "swift")
    rows = [
        (10, a, "en", "s0"),
        (20, b, "en", "s0"),
        (30, c, "en", "s0"),
        (40, FAR, "en", "s0"),
        (50, FAR, "en", "s1"),  # exact dup of 40 -> pair cluster
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(docs, threshold=0.5).collect()
    }
    assert got[10] == got[20] == got[30] == 10
    assert got[40] == got[50] == 40


def test_connected_components_chain_converges_logarithmically(spark):
    """The r14 pointer-jumping term: a 64-vertex chain must converge
    to the correct labeling within 10 rounds (log2(64) + the adaptive
    round-3 start + the certificate round) — pure min-label
    propagation needs 64 rounds and would return a WRONG labeling
    under this cap, so this test pins both the correctness of the
    l(l(v)) term and that it actually engages (measured r14: a
    4096-vertex chain converges in ~13 rounds vs not converging at 50
    without the jump)."""
    from pyspark.sql import functions as F

    from flink_exercise_spark.operators.dedup import connected_components

    n = 64
    chain = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(chain, max_iters=10).collect()
    }
    assert got == {v: 0 for v in range(n)}


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the transitivity test, the oracle parity rows, and the rotation pin
@pytest.mark.slow
def test_connected_components_property(spark):
    """Label propagation vs a pure-Python union-find on a batch of
    adversarial small graphs (chains force multi-round propagation;
    they are the worst diameter case for min-label)."""
    import random

    from flink_exercise_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(2, 40)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 60))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if trial == 0:
            edges = [(i, i + 1) for i in range(30)]  # 31-vertex chain
        if not edges:
            continue
        parent = list(range(n + 32))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        verts = sorted({v for e in edges for v in e})
        expected = {}
        for v in verts:
            root = find(v)
            expected.setdefault(root, []).append(v)
        exp_labels = {
            v: min(members)
            for members in expected.values()
            for v in members
        }
        df = spark.createDataFrame(
            [(a, b) for a, b in edges], "doc_a long, doc_b long"
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, max_iters=64).collect()
        }
        assert got == exp_labels, f"trial {trial}: {edges}"


def test_positioned_grams_pos_guard_raises(spark, monkeypatch):
    """The _POS_PACK domain guard fails loudly on a document whose
    token positions exceed the packable bound, instead of silently
    corrupting the canonical keep-first ordering (ADVICE r6). The
    bound is monkeypatched small so the test is fast; the guard
    expression reads the module global at plan-build time."""
    from flink_exercise_spark.operators import dedup as D

    monkeypatch.setattr(D, "_POS_PACK", 4)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    grams = D._positioned_grams(docs, k=2, key="doc_id")
    with pytest.raises(Exception, match="packable bound"):
        grams.collect()
    # Below the bound: no raise, positions intact.
    monkeypatch.setattr(D, "_POS_PACK", 1 << 20)
    grams_ok = D._positioned_grams(docs, k=2, key="doc_id")
    assert sorted(r["pos"] for r in grams_ok.collect()) == list(range(1, 8))


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the transitivity test, the oracle parity rows, and the rotation pin
@pytest.mark.slow
def test_cluster_keep_best_prefers_quality_then_min_id(spark):
    from flink_exercise_spark.operators.dedup import cluster_keep_best

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    longer = base + " extra trailing words"
    rows = [
        # cluster {1, 2, 3}: 2 and 3 are the longest (equal n_chars)
        # -> canonical is min(2, 3) = 2
        (1, base, len(base)),
        (2, longer, len(longer)),
        (3, longer, len(longer)),
        # unclustered doc: not in the output at all
        (4, "completely different text about unrelated things", 49),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {
        r["doc_id"]: (r["cluster_id"], r["canonical_doc_id"], r["keep"])
        for r in cluster_keep_best(docs).collect()
    }
    assert out == {
        1: (1, 2, False),
        2: (1, 2, True),
        3: (1, 2, False),
    }


# slow (r12 suite-trim): heavy exhaustive/statistical run; the
# default loop keeps the transitivity test, the oracle parity rows, and the rotation pin
@pytest.mark.slow
def test_cluster_keep_best_consistent_with_clusters(spark):
    # same clustering as near_dup_clusters; exactly one keeper per
    # cluster, and the keeper has the cluster's max n_chars
    from flink_exercise_spark.operators.dedup import (
        cluster_keep_best,
        near_dup_clusters,
    )
    from flink_exercise_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    kb = cluster_keep_best(docs).toPandas()
    cl = near_dup_clusters(docs).toPandas()
    assert len(kb) == len(cl) > 0
    m = kb.merge(cl, on="doc_id", suffixes=("", "_ref"))
    assert (m["cluster_id"] == m["cluster_id_ref"]).all()
    per = kb.groupby("cluster_id")["keep"].sum()
    assert (per == 1).all()
    docs_pd = docs.select("doc_id", "n_chars").toPandas()
    j = kb.merge(docs_pd, on="doc_id")
    mx = j.groupby("cluster_id")["n_chars"].transform("max")
    keepers = j[j["keep"]]
    assert (keepers["n_chars"] == mx[j["keep"]]).all()


def test_simhash_adaptive_cap_equals_fixed_at_fixture_scale(spark):
    """bucket_cap='adaptive' resolves to BUCKET_CAP while the corpus is
    far below the 16-bit chunk space's saturation point, so results
    are identical — the option exists for the >16M-doc regime where a
    fixed cap would cut every chunk (the image band-cap finding)."""
    from flink_exercise_spark.operators.dedup import simhash_near_pairs
    from flink_exercise_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    fixed = sorted(tuple(r) for r in simhash_near_pairs(docs).collect())
    adaptive = sorted(
        tuple(r)
        for r in simhash_near_pairs(docs, bucket_cap="adaptive").collect()
    )
    assert adaptive == fixed and len(fixed) > 0
