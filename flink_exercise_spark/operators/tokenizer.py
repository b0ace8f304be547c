"""Tokenizer induction over the documents table — the vocabulary /
subword-merge statistics a training pipeline computes before any model
sees a byte.

Two layers, split by where the data is big:

- ``vocab_stats`` / ``char_pair_stats``: corpus-scale aggregations
  (the distributed part — every token of every document flows through
  ONE hash aggregate with map-side combine; the shuffle carries one
  row per distinct token, not per occurrence).
- ``bpe_train``: the BPE merge loop (Sennrich et al., ACL'16) over the
  aggregated (word, freq) table. The loop deliberately runs on the
  DRIVER over the collected vocabulary: the corpus-sized work is the
  count; the merge iterations touch only the frequency table, which is
  vocabulary-sized by construction — the same model-state split the
  k-means kernel documents (clustering.py), and exactly how production
  tokenizer trainers consume distributed word counts.

The registered query unions the top-k word vocabulary with the
weighted adjacent-character-pair statistics (BPE's iteration-0 merge
candidates) into one relation, so the driver value-hashes both facets
in a single entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_exercise_spark.operators.text import tokens_expr
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table, spread

VOCAB_TOP_K = 100
PAIR_TOP_K = 20


def _corpus_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) — one row per token OCCURRENCE; blank/NULL tokens
    dropped (explode_outer + isnotnull: the inferred-filter rule, see
    pipeline.decontaminate)."""
    return (
        spread(docs, "doc_id")
        .select("doc_id", tokens_expr().alias("_t"))
        .select("doc_id", F.explode_outer("_t").alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )


def vocab_stats(docs: DataFrame) -> DataFrame:
    """(tok, n, doc_freq): occurrence count and document frequency per
    distinct token — one two-phase hash aggregate; the count(DISTINCT
    doc_id) expands to (tok, doc_id) partials, the standard two-level
    distinct shape."""
    return _corpus_tokens(docs).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


def char_pair_stats(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent character-pair counts over a (tok, n) word
    vocabulary — BPE's iteration-0 merge candidates. Runs over the
    VOCABULARY (distinct word types), weighting each pair by the
    word's corpus count, so cost is vocab-sized, not corpus-sized.
    Words shorter than 2 characters are filtered BEFORE the position
    explode (sequence(1, 0) counts DOWN — the same guard as
    shingles_from_tokens)."""
    return (
        vocab.filter(F.length("tok") >= 2)
        .select(
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("tok") - 1)
            ).alias("i"),
            "tok",
        )
        .select(
            F.col("tok").substr(F.col("i"), F.lit(2)).alias("pair"), "n"
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("n"))
    )


def _topk(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Deterministic top-k by (n DESC, item ASC) — plans as
    TakeOrderedAndProject (per-partition heap + driver merge, no full
    sort)."""
    return df.orderBy(F.col("n").desc(), F.col(item_col).asc()).limit(k)


BPE_MAX_VOCAB = 1_000_000


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    min_count: int = 1,
    max_vocab: int = BPE_MAX_VOCAB,
) -> list[tuple[str, str, int]]:
    """Byte-pair-encoding merge table: ``n_merges`` rounds of "merge
    the most frequent adjacent symbol pair" (ties broken by pair
    lexicographic order, deterministic) over the corpus word-frequency
    table. Returns [(left_symbol, right_symbol, weighted_count), ...]
    in merge order.

    The distributed step is ``vocab_stats`` (corpus-scale count); the
    merge loop runs driver-side over the collected (word, freq) pairs
    — vocabulary-sized model fitting, the documented model-state
    exception to the no-driver-loop rule (see module docstring).
    Pinned against the textbook reference in test_tokenizer.py.

    The collect is BOUNDED so "vocabulary-sized" stays true on a
    web-scale corpus (10^8–10^9 distinct raw tokens): ``min_count``
    drops hapax/noise words before they leave the executors (the
    standard BPE preprocessing floor — singleton words contribute
    pair counts below any real merge's count) and ``max_vocab`` caps
    the driver transfer at the top-N words by (n DESC, tok ASC) —
    TakeOrderedAndProject, a per-partition heap, so neither bound
    adds a shuffle. Both bounds at their defaults are exact on any
    corpus with <= BPE_MAX_VOCAB distinct words (fuzz-pinned:
    test_bpe_floor_noop_below_bound).
    """
    vocab = vocab_stats(docs).select("tok", "n")
    if min_count > 1:
        vocab = vocab.filter(F.col("n") >= min_count)
    freqs = {
        r["tok"]: r["n"] for r in _topk(vocab, "tok", max_vocab).collect()
    }
    symbols = {w: tuple(w) for w in freqs}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for w, syms in symbols.items():
            n = freqs[w]
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
        if not pair_counts:
            break
        (a, b), n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((a, b, n))
        merged = a + b
        new_symbols = {}
        for w, syms in symbols.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_symbols[w] = tuple(out)
        symbols = new_symbols
    return merges


@register(
    "text_vocab_topk",
    # Pin: tests/test_rotation_pins.py
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
      ) WHERE tok IS NOT NULL AND tok <> ''
    ),
    wv AS (
      SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
      FROM toks GROUP BY tok
    ),
    topw AS (
      SELECT 'word' AS kind, tok AS item, n,
             CAST(doc_freq AS BIGINT) AS doc_freq
      FROM wv ORDER BY n DESC, tok ASC LIMIT {VOCAB_TOP_K}
    ),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair, n
      FROM (SELECT tok, n,
                   unnest(range(1, length(tok))) AS i
            FROM wv WHERE length(tok) >= 2)
    ),
    topp AS (
      SELECT 'char_pair' AS kind, pair AS item,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(NULL AS BIGINT) AS doc_freq
      FROM pairs GROUP BY pair
      ORDER BY n DESC, pair ASC LIMIT {PAIR_TOP_K}
    )
    SELECT kind, item, CAST(n AS BIGINT) AS n, doc_freq FROM topw
    UNION ALL
    SELECT kind, item, n, doc_freq FROM topp
    """,
    doc="Tokenizer induction statistics: top-k word vocabulary "
        "(count + document frequency) unioned with the weighted "
        "adjacent char-pair counts (BPE iteration-0 merge candidates) "
        "— the corpus-scale aggregations a tokenizer trainer consumes",
    tags=("text", "documents", "tokenizer"),
)
def q_vocab_topk(spark, sf_dir):
    from flink_exercise_spark.caching import persist_tracked

    docs = load_table(prep(spark), sf_dir, "documents")
    # vocab feeds BOTH top-k word facet and the pair stats; it is
    # vocabulary-sized (post-aggregate), so persisting it is the
    # correct-at-scale way to share the corpus-scale token count.
    vocab = persist_tracked(vocab_stats(docs))
    topw = _topk(vocab, "tok", VOCAB_TOP_K).select(
        F.lit("word").alias("kind"),
        F.col("tok").alias("item"),
        F.col("n").cast("long").alias("n"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
    )
    topp = _topk(char_pair_stats(vocab), "pair", PAIR_TOP_K).select(
        F.lit("char_pair").alias("kind"),
        F.col("pair").alias("item"),
        F.col("n").cast("long").alias("n"),
        F.lit(None).cast("long").alias("doc_freq"),
    )
    return topw.unionByName(topp)


def token_rarity(docs: DataFrame) -> DataFrame:
    """Per-document rarity score: mean FLOORED inverse corpus
    frequency of the document's tokens — ``sum(N div c_t) /
    n_tokens`` where ``N`` is the corpus token count and ``c_t`` each
    token's corpus count. The integer-exact form of the CCNet-style
    statistical-LM filter (high score = rare-token-heavy = likely
    gibberish/OCR noise; low = boilerplate). Two deliberate
    engine-portability choices: NO logarithm (ln() is libm; a
    last-ulp difference between engines can flip a round(x, 4)
    boundary — same reasoning as the classifier's rational squash,
    text.py), and integral division with an INTEGER sum per document
    (a float mean of N/c_t terms is summation-ORDER dependent, and
    Spark's partial-agg order differs from a single-stream engine's —
    the one remaining division happens once, after the exact sum, so
    the rounded value is bit-identical on both engines).

    This is corpus-statistics model scoring: the vocabulary IS the
    model, trained by ``vocab_stats``'s corpus-scale aggregate and
    joined back token-by-token. Scale shape: the join key is the
    token (inverted-index shape, same family as the Jaccard verify
    join); vocabulary size is data-dependent, so no unconditional
    broadcast hint — AQE broadcasts a small vocab from observed
    shuffle sizes, and a gibberish-heavy corpus whose vocab approaches
    corpus size degrades to a sort-merge join instead of an executor
    OOM. The scalar N rides a 1-row broadcast cross join. On the
    broadcast path the per-doc aggregate combines map-side (a
    document's tokens are co-located in its scan partition); on the
    sort-merge path rows leave the join partitioned by TOKEN, so the
    partial aggregate emits up to one row per (doc, partition) and
    the doc-keyed shuffle is correspondingly larger — the degraded
    mode's honest extra cost, not a contract violation.

    Returns (doc_id, n_tokens, rarity) for documents with >= 1
    non-blank token; NULL/blank-only documents have no occurrence rows
    and drop out (mirrored in the oracle).
    """
    from flink_exercise_spark.caching import persist_tracked

    # Measured negative result (r7), kept as a design note: rewriting
    # the join input as pre-aggregated DISTINCT (doc, token) pairs
    # with counts — sum(k * (N div c)) / sum(k), identical integer
    # math — looked like a free 2.3x row reduction (the fixture's
    # within-doc repetition factor), but measured SLOWER at sf10
    # (46 s -> 56 s, same session): the extra (doc, tok) exchange +
    # pair-relation persist cost more than the thinner vocabulary
    # join saves on this shape. The occurrence form below shuffles
    # once into the join and once out; keep it until a corpus with a
    # far higher repetition factor proves the pair form out.
    toks = _corpus_tokens(docs)
    toks = persist_tracked(toks)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    total = vocab.agg(F.sum("_c").alias("_n_total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.expr("_n_total div _c")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_s") / F.col("n_tokens"), 4).alias("rarity"),
        )
    )


@register(
    "text_token_rarity",
    # Pin: tests/test_rotation_pins.py
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
      ) WHERE tok IS NOT NULL AND tok <> ''
    ),
    wv AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM wv)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(n_total // c) / count(*), 4) AS rarity
    FROM toks t JOIN wv USING (tok) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    doc="Statistical-LM corpus filter: per-doc mean floored inverse "
        "corpus token frequency (integer-exact, order-independent, "
        "no libm) — the vocabulary trained by the corpus-scale "
        "aggregate is the model, joined back inverted-index style",
    tags=("text", "documents", "tokenizer", "quality"),
)
def q_token_rarity(spark, sf_dir):
    return token_rarity(load_table(prep(spark), sf_dir, "documents"))


# --- adjacent-token collocations (bigram lift / PMI family) ---

BIGRAM_TOP_K = 30
BIGRAM_MIN_COUNT = 5


def bigram_pairs(docs: DataFrame, key: str | None = None) -> DataFrame:
    """(a, b) — one row per ADJACENT token pair occurrence; with
    ``key`` set, ``(key, a, b)`` (the per-document form the n-gram LM
    scorer consumes — ONE implementation of the load-bearing pair
    fold, code-review r9). The token array is bound by a SELECT before
    the pair fold references it (the Catalyst lambda-CSE discipline,
    SCALE.md); the lambda is SQL-parsed. Interior whitespace tokens
    cannot be blank (split on ``\\s+`` of trimmed text), so no blank
    filter is needed here — single-token and blank documents drop at
    the size guard."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    keep = [key] if key is not None else []
    # static expression trees per key column (r14 exprmemo — this pair
    # fold is shared by bigram_lift and all three LM entries)
    not_null, tok_col, size_ge2, pair_col = expr_memo(
        ("bigram_pairs", key),
        lambda: (
            F.col("text").isNotNull(),
            tokens_expr().alias("_t"),
            F.size("_t") >= 2,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1), "
                    "i -> struct(_t[i-1] AS a, _t[i] AS b))"
                )
            ).alias("_p"),
        ),
    )
    src = spread(
        docs.filter(not_null).select(*keep, "text"),
        *keep,
    )
    toked = src.select(*keep, tok_col).filter(size_ge2)
    return toked.select(*keep, pair_col).select(*keep, "_p.a", "_p.b")


def bigram_lift(
    docs: DataFrame,
    k: int = BIGRAM_TOP_K,
    min_count: int = BIGRAM_MIN_COUNT,
) -> DataFrame:
    """Top-``k`` adjacent-token collocations by LIFT —
    ``p(a,b) / (p(a) p(b))``, the exponentiated PMI. Returns
    ``(a, b, n_ab, n_a, n_b, lift)``, ordered (lift DESC, a, b).

    Lift, not log-PMI, deliberately: the score is a pure ratio of
    exact integer counts evaluated in one fixed IEEE operation order,
    so it is bit-identical across engines — ``ln`` would put libm in
    the hash path (the token_rarity precedent).

    Shape at scale: ONE corpus pass builds the bigram histogram
    (two-phase hash agg; the shuffle carries distinct pairs, not
    occurrences); the total-pair count is an aggregate of that
    histogram, not a second pass. Unigram counts join in by token —
    vocabulary-sized relations on both sides of vocabulary-keyed
    joins, AQE free to broadcast whichever side shrinks below the
    threshold. The ``min_count`` floor cuts the long tail BEFORE the
    joins (rare-pair noise is also exactly what lift over-scores).
    """
    from flink_exercise_spark.caching import persist_tracked

    uni = persist_tracked(
        _corpus_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bg_all = persist_tracked(
        bigram_pairs(docs)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    n_uni = uni.agg(F.sum("n").cast("long").alias("n_uni"))
    n_pairs = bg_all.agg(F.sum("n_ab").cast("long").alias("n_pairs"))
    bg = bg_all.filter(F.col("n_ab") >= min_count)
    ua = uni.select(F.col("tok").alias("a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n").alias("n_b"))
    # Fixed left-assoc operation order, mirrored verbatim in the
    # oracle: ((((n_ab * n_uni) / n_a) * n_uni) / n_b) / n_pairs.
    lift = F.round(
        F.col("n_ab").cast("double")
        * F.col("n_uni") / F.col("n_a")
        * F.col("n_uni") / F.col("n_b")
        / F.col("n_pairs"),
        4,
    )
    return (
        bg.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "a",
            "b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "a", "b")
        .limit(k)
    )


@register(
    "text_bigram_lift",
    # Pin: tests/test_tokenizer.py fixture Counter-reference
    # equality.
    oracle=f"""
    WITH toked AS (
      SELECT regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    big AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM (SELECT t, unnest(range(1, len(t))) AS i
            FROM toked WHERE len(t) >= 2)
    ),
    uni AS (
      SELECT tok, count(*) AS n FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents WHERE text IS NOT NULL
      ) WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_uni FROM uni),
    totp AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM big),
    bg AS (
      SELECT a, b, count(*) AS n_ab FROM big GROUP BY a, b
      HAVING count(*) >= {BIGRAM_MIN_COUNT}
    )
    SELECT bg.a, bg.b, CAST(bg.n_ab AS BIGINT) AS n_ab,
           CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b,
           round(CAST(bg.n_ab AS DOUBLE)
                 * n_uni / ua.n * n_uni / ub.n / n_pairs, 4) AS lift
    FROM bg JOIN uni ua ON bg.a = ua.tok
            JOIN uni ub ON bg.b = ub.tok
            CROSS JOIN tot CROSS JOIN totp
    ORDER BY lift DESC, bg.a, bg.b LIMIT {BIGRAM_TOP_K}
    """,
    doc="Top-k adjacent-token collocations by lift (exponentiated "
        "PMI) with a min-count floor: bigram histogram in one corpus "
        "pass, vocabulary-keyed unigram joins, libm-free integer-"
        "ratio scoring — the collocation mining pass of corpus "
        "analysis",
    tags=("text", "documents", "tokenizer", "collocations"),
)
def q_bigram_lift(spark, sf_dir):
    return bigram_lift(load_table(prep(spark), sf_dir, "documents"))
