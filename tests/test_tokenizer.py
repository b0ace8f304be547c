"""Tokenizer-induction operators (operators/tokenizer.py): vocabulary
statistics and the BPE merge loop, pinned against hand-computed and
textbook references."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_exercise_spark.operators.tokenizer import (
    bpe_train,
    char_pair_stats,
    vocab_stats,
)
from flink_exercise_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_vocab_stats_counts_and_docfreq(spark):
    df = _docs(
        spark,
        [(1, "a b a"), (2, "a c"), (3, None), (4, "")],
    )
    out = {r["tok"]: (r["n"], r["doc_freq"]) for r in vocab_stats(df).collect()}
    assert out == {"a": (3, 2), "b": (1, 1), "c": (1, 1)}


def test_char_pair_stats_weighted(spark):
    # vocab: "low" x2, "lower" x1  ->  lo:3 ow:3 we:1 er:1
    df = _docs(spark, [(1, "low low lower")])
    out = {
        r["pair"]: r["n"]
        for r in char_pair_stats(vocab_stats(df)).collect()
    }
    assert out == {"lo": 3, "ow": 3, "we": 1, "er": 1}
    # single-char words contribute no pairs (sequence guard)
    df2 = _docs(spark, [(1, "a a ab")])
    out2 = {
        r["pair"]: r["n"]
        for r in char_pair_stats(vocab_stats(df2)).collect()
    }
    assert out2 == {"ab": 1}


def test_bpe_train_textbook_merges(spark):
    """The Sennrich et al. running example: corpus weights low:5,
    lower:2, newest:6, widest:3. First merges are (e,s) -> (es,t) ->
    (est, ...): 'est' forms from the two -est words (9 occurrences)."""
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    merges = bpe_train(_docs(spark, [(1, text)]), n_merges=3)
    assert merges[0] == ("e", "s", 9)
    assert merges[1] == ("es", "t", 9)
    # third merge: all remaining pairs... 'lo' (7 = low:5 + lower:2)
    # vs 'ne','ew','west'? newest -> n e w est: pairs (n,e)=6,(e,w)=6,
    # (w,est)=6; widest -> w i d est: (w,i)=3,(i,d)=3,(d,est)=3;
    # low -> l o w: (l,o)=7,(o,w)=7. Top = (l,o) or (o,w) at 7 ->
    # lexicographic min is ('l','o').
    assert merges[2] == ("l", "o", 7)


def test_bpe_train_deterministic_ties(spark):
    # "ab" and "cd" once each: pairs (a,b)=1, (c,d)=1 -> lexicographic
    # tie-break picks (a,b) first.
    merges = bpe_train(_docs(spark, [(1, "ab cd")]), n_merges=2)
    assert merges[0][:2] == ("a", "b")
    assert merges[1][:2] == ("c", "d")


def test_bpe_train_stops_when_dry(spark):
    merges = bpe_train(_docs(spark, [(1, "a b c")]), n_merges=5)
    assert merges == []              # no multi-char words, no pairs


def test_vocab_topk_fixture_runs(spark):
    from flink_exercise_spark.registry import specs

    out = specs()["text_vocab_topk"].fn(spark, SF_SMOKE).collect()
    kinds = {r["kind"] for r in out}
    assert kinds == {"word", "char_pair"}
    words = [r for r in out if r["kind"] == "word"]
    # descending by n with deterministic item tie-break
    ns = [r["n"] for r in words]
    assert ns == sorted(ns, reverse=True)
    assert all(r["doc_freq"] is not None for r in words)
    assert all(
        r["doc_freq"] is None for r in out if r["kind"] == "char_pair"
    )


def test_token_rarity_hand_computed(spark):
    from flink_exercise_spark.operators.tokenizer import token_rarity

    # corpus: a a a b  +  b c  -> N=6; c(a)=3, c(b)=2, c(c)=1
    df = _docs(spark, [(1, "a a a b"), (2, "b c"), (3, None), (4, "")])
    out = {
        r["doc_id"]: (r["n_tokens"], r["rarity"])
        for r in token_rarity(df).collect()
    }
    # doc1: avg(6/3, 6/3, 6/3, 6/2) = avg(2,2,2,3) = 2.25
    # doc2: avg(6/2, 6/1) = avg(3,6) = 4.5
    assert out == {1: (4, 2.25), 2: (2, 4.5)}  # NULL/blank docs drop


def test_bpe_floor_noop_below_bound(spark):
    """Fuzz-pin the collect bounds: on corpora whose vocabulary fits
    the cap and whose words all clear the floor, the bounded collect
    is exactly the unbounded one (same merge table), across several
    deterministic pseudo-random corpora."""
    import random

    rng = random.Random(7)
    words = ["ab", "abc", "bcd", "cd", "a", "dd", "abab"]
    for trial in range(5):
        rows = [
            (i, " ".join(rng.choices(words, k=rng.randint(1, 12))))
            for i in range(20)
        ]
        df = _docs(spark, rows)
        unbounded = bpe_train(df, n_merges=4)
        bounded = bpe_train(df, n_merges=4, min_count=1, max_vocab=10_000)
        assert bounded == unbounded, f"trial {trial}"


def test_bpe_min_count_drops_hapax(spark):
    """min_count=2 must remove singleton words from the frequency
    table: a hapax-only pair disappears from the merge candidates."""
    # "xy" appears once (hapax); "ab" appears 3 times.
    df = _docs(spark, [(1, "ab ab"), (2, "ab xy")])
    merges_all = bpe_train(df, n_merges=1)
    assert merges_all[0][:2] == ("a", "b")  # ab dominates either way
    merges_floor = bpe_train(df, n_merges=2, min_count=2)
    # With the floor, only "ab" remains -> exactly one merge possible.
    assert [m[:2] for m in merges_floor] == [("a", "b")]


def test_bpe_max_vocab_caps_collect(spark):
    """max_vocab keeps only the top-N words by (n DESC, tok ASC):
    with max_vocab=1 only the most frequent word trains the merges."""
    df = _docs(spark, [(1, "ab ab ab cd cd")])
    merges = bpe_train(df, n_merges=3, max_vocab=1)
    # Only "ab" (n=3) survives the cap; "cd" (n=2) is dropped.
    assert [m[:2] for m in merges] == [("a", "b")]


# --- bigram lift (collocations) ---


def test_bigram_pairs_crafted(spark):
    from flink_exercise_spark.operators.tokenizer import bigram_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "  a   b  "),   # interior multi-space, leading/trailing
            (3, "solo"),         # single token -> no pairs
            (4, None),           # NULL text -> dropped
            (5, ""),             # blank -> no pairs
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["a"], r["b"]) for r in bigram_pairs(docs).collect()
    )
    assert got == [("a", "b"), ("a", "b"), ("b", "c")]


def test_bigram_lift_values(spark):
    from flink_exercise_spark.operators.tokenizer import bigram_lift

    # 6 docs of "x y", so n_ab(x,y)=6 >= min_count, n_x=n_y=6,
    # N_uni=12, N_pairs=6: lift = (6/6)*(12/6)*(12/6... fixed order:
    # ((6*12)/6)*12/6/6 = 4.0
    docs = spark.createDataFrame(
        [(i, "x y") for i in range(6)], "doc_id long, text string"
    )
    rows = bigram_lift(docs, k=5, min_count=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["n_ab"], r["n_a"], r["n_b"]) == (
        "x", "y", 6, 6, 6,
    )
    assert r["lift"] == 4.0


def test_bigram_lift_min_count_floor(spark):
    from flink_exercise_spark.operators.tokenizer import bigram_lift

    docs = spark.createDataFrame(
        [(i, "x y") for i in range(5)] + [(99, "p q")],
        "doc_id long, text string",
    )
    rows = bigram_lift(docs, k=10, min_count=5).collect()
    assert [(r["a"], r["b"]) for r in rows] == [("x", "y")]


def test_bigram_lift_fixture_matches_python(spark):
    import re
    from collections import Counter

    import pandas as pd

    from flink_exercise_spark.operators.tokenizer import (
        BIGRAM_MIN_COUNT,
        BIGRAM_TOP_K,
        bigram_lift,
    )
    from flink_exercise_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs_pd = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    uni: Counter = Counter()
    bg: Counter = Counter()
    for t in docs_pd["text"]:
        if t is None:
            continue
        toks = [w for w in re.split(r"\s+", t.strip()) if w]
        uni.update(toks)
        bg.update(zip(toks, toks[1:]))
    n_uni = sum(uni.values())
    n_pairs = sum(bg.values())
    scored = []
    for (a, b), n_ab in bg.items():
        if n_ab < BIGRAM_MIN_COUNT:
            continue
        lift = round(
            float(n_ab) * n_uni / uni[a] * n_uni / uni[b] / n_pairs, 4
        )
        scored.append((-lift, a, b, n_ab))
    scored.sort()
    want = [
        (a, b, n_ab, round(-neg, 4))
        for neg, a, b, n_ab in scored[:BIGRAM_TOP_K]
    ]

    out = bigram_lift(load_table(spark, SF_SMOKE, "documents")).collect()
    got = [(r["a"], r["b"], r["n_ab"], r["lift"]) for r in out]
    assert got == want
