"""Hybrid BM25 + vector fusion (reference V4, /root/reference/backend/process/
elasticsearch_index.py:215-306).

The reference builds one ES bool query: ``should: [match(boost=1.0),
knn(boost=0.8)]``, ``minimum_should_match: 1``, then ``min_score`` cut and
top ``size``. That is a *weighted sum over the union of both result sets* —
here a full-outer join of the two score DataFrames on (query_id, doc_id):

    fused = 1.0 * coalesce(bm25, 0) + 0.8 * coalesce(knn, 0)

``minimum_should_match: 1`` ≡ the row exists in at least one side ≡ full
outer join membership. An RRF variant (the comment at
elasticsearch_index.py:222 *claims* RRF; the implementation is weighted
boolean score — we provide both, weighted is the parity default).

Scale: both inputs arrive already reduced to (query, doc, score) — small
relative to the corpus — so the fusion join is cheap; scores never touch the
full corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cleanvec as CV
from .relational import top_k_per_group

TEXT_BOOST = 1.0   # elasticsearch_index.py:241
VECTOR_BOOST = 0.8  # elasticsearch_index.py:255,276


def fuse_weighted(
    bm25_scores: DataFrame,
    knn_scores: DataFrame,
    text_boost: float = TEXT_BOOST,
    vector_boost: float = VECTOR_BOOST,
    min_score: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """Weighted-sum fusion — exact reference semantics (V4).

    Inputs: (query_id, doc_id, score) each. Output: top-k per query with
    ``score`` = text_boost*bm25 + vector_boost*knn, filtered to >= min_score,
    ties broken by doc_id asc.
    """
    b = bm25_scores.select("query_id", "doc_id", F.col("score").alias("bm25"))
    v = knn_scores.select("query_id", "doc_id", F.col("score").alias("knn"))
    fused = b.join(v, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.lit(text_boost) * F.coalesce(F.col("bm25"), F.lit(0.0))
            + F.lit(vector_boost) * F.coalesce(F.col("knn"), F.lit(0.0))
        ).alias("score"),
    )
    fused = fused.filter(F.col("score") >= min_score)
    return top_k_per_group(fused, ["query_id"], "score", k, tie_break="doc_id")


def fuse_rrf(
    bm25_scores: DataFrame,
    knn_scores: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion: score = Σ 1/(rrf_k + rank_leg). The fusion the
    reference's comment promises (elasticsearch_index.py:222) but never ships.

    Measured dead-end (r13 — don't retry): a "one-exchange" fusion (union
    the legs with a leg tag, repartition by query_id once, rank per
    (query_id, leg) window, per-(query_id, doc_id) sum — every stage
    satisfied by the query_id partitioning) produced bit-identical rows
    and 8 fewer Exchange nodes, but measured ~1.8x SLOWER warm on a bare
    local[8] session at sf0.01 (2.7 s → 4.6-4.9 s; hybrid_fusion_ab
    2.2x) and only in-band "better" at bench local[32] (A/B 0.88,
    committed BENCH_AB.json): partitioning everything by query_id caps
    the fusion's parallelism at the number of DISTINCT QUERIES (5 here —
    5 non-empty tasks plus a 200-partition empty-task tail through three
    stages), where this shape's two window exchanges spread by
    (query_id, doc_id) hash instead. The one-exchange shape only wins
    when the query batch is wide enough to fill the cluster — revisit if
    fusion batches grow to thousands of queries per job.
    """
    def ranked(df: DataFrame, leg: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
        return df.select(
            "query_id", "doc_id", F.row_number().over(w).alias(f"rank_{leg}")
        )

    b, v = ranked(bm25_scores, "b"), ranked(knn_scores, "v")
    fused = b.join(v, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.when(F.col("rank_b").isNotNull(), 1.0 / (rrf_k + F.col("rank_b"))).otherwise(0.0)
            + F.when(F.col("rank_v").isNotNull(), 1.0 / (rrf_k + F.col("rank_v"))).otherwise(0.0)
        ).alias("score"),
    )
    return top_k_per_group(fused, ["query_id"], "score", k, tie_break="doc_id")


def rerank_token_overlap(
    candidates: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Second-stage reranking: rescore first-stage candidates by query↔doc
    token Jaccard and keep the top-k per query.

    The deterministic overlap scorer is the SQL-expressible stand-in for a
    cross-encoder — a real model replaces ONLY the scoring expression with
    an Arrow-batched pandas_udf of the same (query_text, doc_text) → score
    signature; the dataflow shape is the part that matters at scale: the
    candidate set (queries × N, tiny) is broadcast against the corpus, so
    reranking reads each candidate document exactly once and the corpus is
    never shuffled. Ties break (rerank DESC, first-stage score DESC, id).

    ``candidates``: (query_id, doc_id, score) from any first stage;
    ``queries``: (query_id, query_text); ``docs``: (id_col, text_col).
    """
    from ..functions.text import tokenize
    from .relational import top_k_per_group

    q = queries.select(
        "query_id", F.array_distinct(tokenize(F.col("query_text"))).alias("__qt")
    )
    cand = F.broadcast(
        candidates.select("query_id", id_col, F.col("score").alias("stage1_score"))
        .join(q, "query_id")
    )
    d = docs.select(
        F.col(id_col), F.array_distinct(tokenize(F.col(text_col))).alias("__dt")
    )
    inter = F.size(F.array_intersect(F.col("__qt"), F.col("__dt")))
    union = F.size(F.col("__qt")) + F.size(F.col("__dt")) - inter
    scored = cand.join(d, id_col).withColumn(
        "rerank_score",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6),
    )
    ranked = top_k_per_group(
        scored.select("query_id", id_col, "rerank_score", "stage1_score"),
        ["query_id"],
        F.struct(F.col("rerank_score"), F.col("stage1_score")),
        k,
        tie_break=id_col,
    )
    return ranked


def mmr_rerank(
    candidates: DataFrame,
    corpus_vecs: DataFrame,
    query_vecs: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein
    1998) of per-query candidate sets:

        next = argmax_d  lam * cos(q, d) - (1 - lam) * max_{s in S} cos(d, s)

    greedily for ``k`` steps. Result carries ``mmr_rank`` (selection order,
    1-based) and ``mmr_score`` (the marginal value at selection, rounded 6).

    The iterative argmax is inherently sequential per query — exactly the
    kind of operator Spark's declarative algebra can't express — so it runs
    as an ``applyInArrow`` NumPy kernel over query groups: the candidate
    set per query is first-stage top-N (≤ ~100 rows by construction), so the
    grouped state is tiny regardless of corpus size. Corpus embeddings are
    attached via an equi-join on the candidate ids (the 100 TB side is
    semi-join-pruned to candidates before any Python sees it); query vectors
    are broadcast. Determinism: float64 NumPy kernel with id-ascending
    candidate ordering, so equal marginals break toward the lower id.

    ``candidates``: (query_id, <id_col>, score) from any first stage;
    ``corpus_vecs``: (<id_col>, <vec_col>); ``query_vecs``: (query_id,
    <vec_col>).
    """
    import numpy as np
    import pyarrow as pa

    cand = (
        candidates.select("query_id", id_col)
        .join(corpus_vecs.select(id_col, F.col(vec_col).alias("__dv")), id_col)
        .join(
            F.broadcast(query_vecs.select("query_id", F.col(vec_col).alias("__qv"))),
            "query_id",
        )
    )
    out_schema = (
        f"query_id long, {id_col} long, mmr_rank int, mmr_score double"
    )

    empty = pa.schema(
        [
            ("query_id", pa.int64()),
            (id_col, pa.int64()),
            ("mmr_rank", pa.int32()),
            ("mmr_score", pa.float64()),
        ]
    ).empty_table()

    def kernel(table: pa.Table) -> pa.Table:
        table = table.sort_by(id_col)  # stable: equal ids keep input order
        # the query vector fixes the group's dimensionality; a malformed
        # query selects nothing, a malformed candidate is never selected
        _, q = CV.decode(table.column("__qv").slice(0, 1))
        if q is None:
            return empty
        mask, V = CV.decode(table.column("__dv"), q.shape[1])
        if V is None:
            return empty
        ids = table.column(id_col).to_numpy()[mask]
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
        qn = q[0] / max(np.linalg.norm(q[0]), 1e-30)
        rel = Vn @ qn
        sim = Vn @ Vn.T
        n = len(ids)
        chosen: list[int] = []
        max_sim = np.zeros(n)
        avail = np.ones(n, dtype=bool)
        scores = []
        for _ in range(min(k, n)):
            marg = np.where(avail, lam * rel - (1.0 - lam) * max_sim, -np.inf)
            i = int(np.argmax(marg))  # first max = lowest id (sorted order)
            chosen.append(i)
            scores.append(marg[i])
            avail[i] = False
            max_sim = np.maximum(max_sim, sim[:, i])
        qid = table.column("query_id")[0].as_py()
        return pa.table(
            {
                "query_id": np.full(len(chosen), qid, dtype=np.int64),
                id_col: ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "mmr_score": np.round(np.array(scores), 6),
            }
        )

    return cand.groupBy("query_id").applyInArrow(kernel, out_schema)


def pack_context_budget(
    results: DataFrame,
    docs: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG context assembly: per query, keep the highest-ranked retrieved
    docs whose cumulative token count fits ``token_budget`` — the step
    between retrieval (this module / operators/knn.py) and prompt
    construction, where a context window is a hard token budget.

    ``results``: (query_id, doc_id, score) from any retrieval operator —
    rank scores BEFORE calling (round + id tie-break, parity rule 2) so the
    pack order is cross-engine deterministic. Token counts are ``size ∘
    tokenize`` (non-negative), so the running sum is monotone and the
    ``cum <= budget`` filter IS the prefix cut: a doc that overflows the
    budget also blocks every doc ranked after it (no fill-the-gaps
    knapsack — deterministic truncation, the standard RAG policy).

    Output: (query_id, doc_id, rank, n_tokens, cum_tokens, score).

    Every retrieved ``doc_id`` must exist in ``docs``: an absent id
    raises (``raise_error``) instead of being silently dropped and the
    pack renumbered around it.

    Scale: the retrieval result is already reduced (k rows/query); the doc
    join is an equi-join on doc id against a projected (id, n_tokens)
    corpus scan, and both window functions partition by query_id — small
    per-query groups, never a global sort.
    """
    from ..functions.text import tokenize

    n_tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(F.col(text_col))).alias("n_tokens"),
    )
    # LEFT join + loud failure on unmatched ids: an inner join would
    # silently drop a retrieved doc_id absent from the docs table and
    # renumber rank/cum_tokens around it — the packed context would no
    # longer reflect the retrieval ranking with no surfaced signal. A
    # missing id is referential corruption upstream; fail the job.
    # A NULL retrieved doc_id is the OTHER failure class — a malformed
    # row, not a dangling reference (it has no identity to cite or pack,
    # and a NULL key can never match the left join, so it would reach
    # raise_error with a NULL message). Row-fails-not-job: drop it before
    # ranking; the loud path stays for genuine non-NULL missing ids.
    j = results.where(F.col("doc_id").isNotNull()).join(
        n_tok, "doc_id", "left"
    ).withColumn(
        "n_tokens",
        F.when(
            F.col("n_tokens").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "pack_context_budget: retrieved doc_id absent "
                        "from docs table: "
                    ),
                    F.col("doc_id").cast("string"),
                )
            ),
        ).otherwise(F.col("n_tokens")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= token_budget)
        .select("query_id", "doc_id", "rank", "n_tokens", "cum_tokens", "score")
    )
