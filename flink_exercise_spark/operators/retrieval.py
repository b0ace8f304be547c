"""Lexical top-k retrieval (BM25 family) over the document corpus —
the keyword-side complement of the embedding ANN operators in
similarity.py. A training-data pipeline uses this for targeted corpus
audits ("which documents score highest for these benchmark terms"),
low-resource mining, and as the lexical arm of hybrid (BM25 + dense)
retrieval.

Scoring is BM25 with Robertson's idf kept in ODDS form (no logarithm)
and every per-term score reduced to ONE floored integer division of
two exact 128-bit integer products — the repo's cross-engine float
discipline (see token_rarity, tokenizer.py): a value-hash oracle gate
cannot tolerate libm ln() (last-ulp differences flip rounded digits)
or float summation (partial-agg order differs between engines), so
scores are exact integers by construction, identical on Spark and
DuckDB bit for bit.

With k1 = 6/5 and b = 3/4 (the textbook BM25 constants as exact
rationals), multiplying numerator and denominator by 20·T:

    tf_term = tf·(k1+1) / (tf + k1·(1 − b + b·dl·D/T))
            = 44·tf·T / (20·tf·T + 6·T + 18·dl·D)
    idf_odds = (D − df + ½)/(df + ½) = (2·(D−df)+1) / (2·df+1)

    score_term = (SCALE · 44 · tf · T · (2·(D−df)+1))
                 div ((20·tf·T + 6·T + 18·dl·D) · (2·df+1))

where D = corpus document count, T = corpus token count, dl = document
length, df = term document frequency, SCALE = 10^6. idf stays in odds
space rather than log space — per-term ranking is identical (log is
monotone); the multi-term sum weights rare terms more sharply than
log-BM25, which is documented behavior, not an approximation error.
Products are computed in decimal(38,0) (Spark) / HUGEINT (DuckDB):
both are exact 128-bit integer arithmetic, verified to agree on the
integral division, and the worst-case magnitude at 100 TB scale
(tf ≤ 10^4, T ≤ 10^13, D ≤ 10^11) stays under 10^36 < 10^38.

Scale shape (the reason this is not one SQL window):
- The index pass (postings + doc length) is one explode → (doc, tok)
  two-phase hash aggregate → doc-keyed window for dl; the window
  rides a single doc_id exchange (partitioned — never the global
  unpartitioned-window trap).
- df and the (D, T) scalars are aggregate-sized; (D, T) rides a
  1-row broadcast cross join (token_rarity pattern).
- The query-term relation (queries ⋈ df) is query-sized and
  BROADCAST to the postings join, so the corpus-sized postings
  relation is never re-shuffled for scoring; only MATCHED postings
  enter the (query_id, doc_id) aggregate.
- Top-k is the two-phase partial/merge ranking (similarity.py
  _rank_top_k rationale): a row_number window would shuffle every
  scored candidate to one task per query.

Reference parity note: the reference job (StreamingJob.scala) has no
retrieval operator; this family extends the engine's LLM-pipeline
surface (driver mandate), reusing its tokenizer conventions
(tokenizer._corpus_tokens) so postings agree with vocab_stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_exercise_spark.caching import persist_tracked
from flink_exercise_spark.operators.tokenizer import _corpus_tokens
from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table

SCALE = 1_000_000  # score resolution: floor(10^6 · tf_term · idf_odds)
TOP_K = 5
QUERY_STEP = 100  # registry query set: every 100th document ...
QUERY_CAP = 50  # ... among the first 5000 (fixed query COUNT, r9)
QUERY_TERMS = 4  # ... queried by its first 4 tokens
N_QUERIES = 10  # hybrid query set: ids < 10 (the similarity.py convention)
FUSE_K = 20  # per-arm candidate depth feeding the RRF fusion
RRF_K0 = 60  # the standard RRF damping constant

_D38 = "decimal(38,0)"


def postings(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf, dl): the inverted-index relation — term
    frequency per (document, token) plus document length (non-blank
    token count). One explode, one two-phase hash aggregate, and a
    doc-partitioned window that rides the aggregate's doc_id exchange
    (``Window.partitionBy`` with no ordering: whole-partition frame,
    no sort)."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    tf_agg, dl_col = expr_memo(
        "retrieval_postings",
        lambda: (
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sum("tf").over(Window.partitionBy("doc_id"))
            .cast("long").alias("dl"),
        ),
    )
    post = _corpus_tokens(docs).groupBy("doc_id", "tok").agg(tf_agg)
    return post.select("doc_id", "tok", "tf", dl_col)


def doc_frequencies(post: DataFrame) -> DataFrame:
    """(tok, df): document frequency per term — postings already hold
    one row per (doc, tok), so df is a plain count."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    return post.groupBy("tok").agg(expr_memo(
        "retrieval_df",
        lambda: F.count(F.lit(1)).cast("long").alias("df"),
    ))


def corpus_stats(post: DataFrame) -> DataFrame:
    """1-row (D, T): corpus document count and token count, from the
    postings relation so empty/NULL-text documents are excluded the
    same way on both engines."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    return post.agg(*expr_memo(
        "retrieval_stats",
        lambda: (
            F.countDistinct("doc_id").cast("long").alias("D"),
            F.sum("tf").cast("long").alias("T"),
        ),
    ))


def bm25_score_expr():
    """Exact-integer per-term BM25 score (see module docstring).
    Expects columns tf, dl, df, D, T; all products in decimal(38,0);
    ``div`` on decimals is Spark's IntegralDivide → LongType, matching
    DuckDB HUGEINT ``//`` exactly (verified in tests). Static tree —
    memoized (r14, exprmemo)."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    return expr_memo("bm25_score_expr", _bm25_score_expr_build)


def _bm25_score_expr_build():
    tf = F.col("tf").cast(_D38)
    t = F.col("T").cast(_D38)
    dl = F.col("dl").cast(_D38)
    d = F.col("D").cast(_D38)
    idf2 = (
        F.lit(2).cast(_D38) * (F.col("D") - F.col("df")).cast(_D38)
        + F.lit(1).cast(_D38)
    )
    num = F.lit(SCALE * 44).cast(_D38) * tf * t * idf2
    den = (
        F.lit(20).cast(_D38) * tf * t
        + F.lit(6).cast(_D38) * t
        + F.lit(18).cast(_D38) * dl * d
    ) * (F.lit(2).cast(_D38) * F.col("df").cast(_D38) + F.lit(1).cast(_D38))
    return num.alias("_num"), den.alias("_den")


def _rank_top_k_int(
    scored: DataFrame, k: int, payload: str = "n_terms"
) -> DataFrame:
    """Per-query top-k over integer-scored candidates: ONE shared
    two-phase partial/merge ranking with similarity.py (see
    _rank_top_k's docstring for why not a row_number window) —
    integer negation is exact, so the double trick carries over
    unchanged; ``payload`` rides the struct unsorted."""
    from flink_exercise_spark.operators.similarity import _rank_top_k

    return _rank_top_k(
        scored, k, score_col="score", id_col="doc_id", payload=payload
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k documents per query by exact-integer BM25.

    ``queries`` is a (query_id, tok) term relation — by contract
    query-sized (thousands of queries × a few terms), which is what
    licenses the broadcast: the per-term metadata (df, D, T) is
    attached to the QUERY side so the corpus-sized postings relation
    joins against a broadcast and never re-shuffles for scoring.
    ``exclude_self`` drops doc_id == query_id hits (for query sets
    derived from corpus documents, the source document is a
    guaranteed-top-1 self-match).

    Returns (query_id, doc_id, score, n_terms, rank); score is the
    BIGINT sum of per-term integer scores (order-independent), rank
    is dense 1..k by (score desc, doc_id asc)."""
    # The plan references the postings relation THREE times (document
    # frequencies, corpus stats, the scoring join) — unpersisted,
    # Spark re-executes the corpus explode + aggregate + window per
    # reference (measured: the sf100 BM25 arm spent ~2/3 of its time
    # rebuilding postings). persist_tracked materializes it once;
    # the registry releases it when the next query starts.
    post = persist_tracked(postings(docs))
    # queries is a term SET per query: a duplicated (query_id, tok)
    # row must not double-count its term's score. The distinct is on
    # the query-sized relation (by contract), so it costs nothing at
    # corpus scale — found by the differential fuzz, not a driver
    # fixture (corpus_queries/query_terms already deduplicate).
    qside = (
        queries.distinct()
        .join(doc_frequencies(post), "tok")
        .crossJoin(corpus_stats(post))
    )
    matched = post.join(F.broadcast(qside), "tok")
    if exclude_self:
        matched = matched.filter(F.col("doc_id") != F.col("query_id"))
    from flink_exercise_spark.functions.exprmemo import expr_memo

    num, den = bm25_score_expr()
    s_col, aggs = expr_memo(
        "bm25_score_agg",
        lambda: (
            F.expr("_num div _den").alias("_s"),
            (
                F.sum("_s").cast("long").alias("score"),
                F.count(F.lit(1)).cast("int").alias("n_terms"),
            ),
        ),
    )
    scored = (
        matched.select("query_id", "doc_id", num, den)
        .select("query_id", "doc_id", s_col)
        .groupBy("query_id", "doc_id")
        .agg(*aggs)
    )
    return _rank_top_k_int(scored, k)


def query_terms(docs: DataFrame, n_terms: int = QUERY_TERMS) -> DataFrame:
    """(query_id, tok): each document's first ``n_terms`` tokens
    (de-duplicated) as a query keyed by the document id. Callers
    filter ``docs`` down to the query subset FIRST so tokenization
    touches only query documents."""
    from flink_exercise_spark.functions.exprmemo import expr_memo
    from flink_exercise_spark.operators.text import tokens_expr

    sel, cond = expr_memo(
        ("retrieval_query_terms", n_terms),
        lambda: (
            [
                F.col("doc_id").alias("query_id"),
                F.explode_outer(
                    F.slice(tokens_expr(), 1, n_terms)
                ).alias("tok"),
            ],
            F.col("tok").isNotNull() & (F.col("tok") != ""),
        ),
    )
    return docs.select(*sel).filter(cond).distinct()


def corpus_queries(
    docs: DataFrame,
    step: int = QUERY_STEP,
    n_terms: int = QUERY_TERMS,
    cap: int | None = QUERY_CAP,
) -> DataFrame:
    """Deterministic query set mined from the corpus itself: every
    ``step``-th document among the first ``cap * step`` contributes
    its first ``n_terms`` tokens as a query (see ``query_terms``).
    The ``cap`` makes the query COUNT size-stable (VERDICT r8 ask #6):
    without it the registered entry's cost model scaled with
    corpus-size^2 at the sf benches — a fixture artifact, not the
    operator (BENCH_SF100.md documents the discovery). The filter
    runs before tokenization, so the tokenizer touches at most
    ``cap`` documents."""
    cond = F.col("doc_id") % step == 0
    if cap is not None:
        cond = cond & (F.col("doc_id") < step * cap)
    return query_terms(docs.filter(cond), n_terms)


def _bm25_scored_cte(
    corpus_where: str, query_where: str, exclude_self: bool
) -> str:
    """``toks ... bm25_scored`` CTE chain: the exact-integer BM25
    derivation stated ONCE — the registered BM25 oracle and the hybrid
    oracle's lexical arm must never drift apart on the load-bearing
    arithmetic (code-review r7 finding). ``corpus_where``/
    ``query_where`` are SQL predicates selecting the corpus and query
    documents; ``exclude_self`` drops doc_id == query_id hits."""
    excl = "WHERE p.doc_id <> q.query_id" if exclude_self else ""
    return f"""toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents WHERE {corpus_where}
      ) WHERE tok IS NOT NULL AND tok <> ''
    ),
    post AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, tok
    ),
    dlen AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      FROM post GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS d_docs,
             CAST(sum(dl) AS BIGINT) AS t_toks
      FROM dlen
    ),
    dfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df
      FROM post GROUP BY tok
    ),
    queries AS (
      SELECT DISTINCT doc_id AS query_id, tok FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text),
                      '\\s+')[1:{QUERY_TERMS}]) AS tok
        FROM documents WHERE {query_where}
      ) WHERE tok IS NOT NULL AND tok <> ''
    ),
    bm25_scored AS (
      SELECT q.query_id, p.doc_id,
             CAST(sum(
               ({SCALE * 44}::HUGEINT * p.tf * s.t_toks
                 * (2 * (s.d_docs - f.df) + 1))
               // ((20::HUGEINT * p.tf * s.t_toks
                    + 6::HUGEINT * s.t_toks
                    + 18::HUGEINT * d.dl * s.d_docs)
                   * (2 * f.df + 1))
             ) AS BIGINT) AS score,
             CAST(count(*) AS INT) AS n_terms
      FROM queries q
      JOIN post p USING (tok)
      JOIN dfreq f USING (tok)
      JOIN dlen d ON d.doc_id = p.doc_id
      CROSS JOIN stats s
      {excl}
      GROUP BY q.query_id, p.doc_id
    )"""


_BM25_ORACLE = f"""
    WITH {_bm25_scored_cte(
        corpus_where="TRUE",
        query_where=f"doc_id % {QUERY_STEP} = 0 AND doc_id < {QUERY_STEP * QUERY_CAP}",
        exclude_self=True,
    )}
    SELECT query_id, doc_id, score, n_terms, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id
      ) AS INT) AS rank FROM bm25_scored
    ) WHERE rank <= {TOP_K}
    """


def rrf_fuse(
    arms: list[DataFrame], k: int = TOP_K, k0: int = RRF_K0
) -> DataFrame:
    """Reciprocal-rank fusion over ranked lists: per (query_id,
    doc_id), score = Σ_arms SCALE div (k0 + rank) — the standard RRF
    formula with the 1/(k0+r) reciprocal kept as ONE floored integer
    division per arm (exact on both engines; the BM25 no-float
    discipline), summed only over arms where the candidate appears.

    Each arm is (query_id, doc_id, rank, ...) and is top-k-bounded BY
    CONSTRUCTION (the arms are retrieval outputs), so every relation
    here is query-sized: the fusion outer join and final ranking never
    touch corpus-scale data — the expensive work already happened
    inside the arms. Ties in the fused score break on doc_id asc,
    deterministically on both engines."""
    from flink_exercise_spark.functions.exprmemo import expr_memo

    # static expression trees per (n_arms, k0) — r14 exprmemo
    rank_cols, score_cols = expr_memo(
        ("rrf_fuse", len(arms), k0),
        lambda: _rrf_fuse_exprs(len(arms), k0),
    )
    fused = None
    for i, arm in enumerate(arms):
        a = arm.select("query_id", "doc_id", rank_cols[i])
        fused = a if fused is None else fused.join(
            a, ["query_id", "doc_id"], "full_outer"
        )
    scored = fused.select("query_id", "doc_id", *score_cols)
    out = _rank_top_k_int(scored, k, payload="n_arms")
    return out.withColumnRenamed("score", "rrf_score")


def _rrf_fuse_exprs(n_arms: int, k0: int):
    rank_cols = [F.col("rank").alias(f"_r{i}") for i in range(n_arms)]
    per_arm = [
        F.coalesce(
            F.expr(f"{SCALE} div ({k0} + _r{i})").cast("long"), F.lit(0)
        )
        for i in range(n_arms)
    ]
    present = [
        F.col(f"_r{i}").isNotNull().cast("int") for i in range(n_arms)
    ]
    score_cols = (
        sum(per_arm[1:], per_arm[0]).cast("long").alias("score"),
        sum(present[1:], present[0]).cast("int").alias("n_arms"),
    )
    return rank_cols, score_cols


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    fuse_k: int = FUSE_K,
    k: int = TOP_K,
) -> DataFrame:
    """Hybrid (lexical + dense) retrieval: BM25 over the document
    corpus and brute-force cosine over the embeddings, fused with
    reciprocal-rank fusion. Query i is document i's first tokens on
    the lexical arm and vector i on the dense arm (the fixture's
    embeddings are doc-aligned: vec_id == doc_id); ids < ``n_queries``
    are the query set on BOTH arms and are excluded from both corpora,
    so the two arms rank the same candidate universe.

    Scale shape: each arm is its own scale-correct pipeline (BM25's
    broadcast-scoring join; kNN's broadcast-queries × streamed
    corpus); fusion only sees the arms' top-``fuse_k`` outputs —
    query-sized relations — so hybrid costs arm_lex + arm_dense plus
    an epsilon of fusion, never a third corpus pass."""
    from flink_exercise_spark.operators.similarity import (
        knn_brute_force_kernel,
    )

    lex = bm25_topk(
        docs.filter(F.col("doc_id") >= n_queries),
        query_terms(docs.filter(F.col("doc_id") < n_queries)),
        k=fuse_k,
    )
    # kernel form of brute-force kNN: bit-identical to the HOF fold
    # (equality-pinned in test_similarity.py) and ~40x cheaper at
    # sf100, where the interpreted per-pair fold dominated the hybrid
    dense = knn_brute_force_kernel(
        emb, n_queries=n_queries, k=fuse_k
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, dense], k=k)


_HYBRID_ORACLE = f"""
    WITH {_bm25_scored_cte(
        corpus_where=f"doc_id >= {N_QUERIES}",
        query_where=f"doc_id < {N_QUERIES}",
        exclude_self=False,
    )},
    lex_top AS (
      SELECT query_id, doc_id, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id
        ) AS rn FROM bm25_scored
      ) WHERE rn <= {FUSE_K}
    ),
    unnested AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    vnorms AS (
      SELECT vec_id, sqrt(sum(x * x)) AS norm FROM unnested GROUP BY 1
    ),
    qvec AS (
      SELECT u.vec_id AS query_id, u.x, u.i, n.norm
      FROM unnested u JOIN vnorms n USING (vec_id)
      WHERE u.vec_id < {N_QUERIES}
    ),
    cvec AS (
      SELECT u.vec_id AS doc_id, u.x, u.i, n.norm
      FROM unnested u JOIN vnorms n USING (vec_id)
      WHERE u.vec_id >= {N_QUERIES}
    ),
    cos AS (
      SELECT query_id, doc_id,
             round(sum(q.x * c.x)
                   / (any_value(q.norm) * any_value(c.norm)), 6)
               AS cosine
      FROM qvec q JOIN cvec c ON q.i = c.i
      GROUP BY 1, 2
    ),
    dense_top AS (
      SELECT query_id, doc_id, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, doc_id
        ) AS rn FROM cos
      ) WHERE rn <= {FUSE_K}
    ),
    fused AS (
      SELECT coalesce(l.query_id, de.query_id) AS query_id,
             coalesce(l.doc_id, de.doc_id) AS doc_id,
             CAST(coalesce({SCALE} // ({RRF_K0} + l.rn), 0)
                + coalesce({SCALE} // ({RRF_K0} + de.rn), 0)
               AS BIGINT) AS rrf_score,
             CAST((l.rn IS NOT NULL)::INT + (de.rn IS NOT NULL)::INT
               AS INT) AS n_arms
      FROM lex_top l
      FULL OUTER JOIN dense_top de
        ON l.query_id = de.query_id AND l.doc_id = de.doc_id
    )
    SELECT query_id, doc_id, rrf_score, n_arms,
           CAST(rn AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
      ) AS rn FROM fused
    ) WHERE rn <= {TOP_K}
    """


@register(
    "retrieval_hybrid_rrf",
    # Pin: tests/test_retrieval.py hybrid python reference
    oracle=_HYBRID_ORACLE,
    doc="Hybrid lexical+dense retrieval: BM25 top-20 and brute-force "
        "cosine top-20 over the same candidate universe, fused with "
        "reciprocal-rank fusion (integer 10^6 div (60+rank) per arm) "
        "— fusion sees only the arms' query-sized outputs, never a "
        "third corpus pass",
    tags=("text", "embeddings", "retrieval", "hybrid"),
)
def q_hybrid_rrf(spark, sf_dir):
    s = prep(spark)
    return hybrid_rrf_topk(
        load_table(s, sf_dir, "documents"),
        load_table(s, sf_dir, "embeddings"),
    )


@register(
    "text_bm25_topk",
    # Pin: tests/test_retrieval.py BM25 python reference + fuzz
    oracle=_BM25_ORACLE,
    doc="Exact-integer BM25 top-k lexical retrieval: inverted-index "
        "postings + doc-frequency aggregates, query-side broadcast "
        "scoring join, two-phase window-free ranking; libm-free "
        "odds-form idf so the integer scores hash identically across "
        "engines",
    tags=("text", "documents", "retrieval", "bm25"),
)
def q_bm25_topk(spark, sf_dir):
    docs = load_table(prep(spark), sf_dir, "documents")
    return bm25_topk(
        docs, corpus_queries(docs), k=TOP_K, exclude_self=True
    )
