"""BM25 scoring against hand-computed values; hybrid fusion semantics."""

import math

from pyspark.sql import functions as F

from auto_vectordb_spark.operators import bm25 as BM25
from auto_vectordb_spark.operators import hybrid as HY

CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat"),
    (2, "a fish swam"),
]


def _expected_bm25(term_tf: int, dl: int, df: int, n: int, avgdl: float) -> float:
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * term_tf * (BM25.K1 + 1) / (
        term_tf + BM25.K1 * (1 - BM25.B + BM25.B * dl / avgdl)
    )


def test_bm25_known_values(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    index = BM25.build_index(docs)
    assert index.n_docs == 3
    assert index.avgdl == (6 + 3 + 3) / 3
    queries = spark.createDataFrame([(0, "cat")], ["query_id", "query_text"])
    out = BM25.search(index, queries, k=5).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 0
    expect = _expected_bm25(term_tf=1, dl=6, df=1, n=3, avgdl=4.0)
    assert abs(out[0]["score"] - expect) < 1e-9


def test_bm25_multi_term_sums(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    index = BM25.build_index(docs)
    queries = spark.createDataFrame([(0, "cat sat")], ["query_id", "query_text"])
    out = {r["doc_id"]: r["score"] for r in BM25.search(index, queries, k=5).collect()}
    # doc0 matches both terms, doc1 only 'sat' → doc0 strictly higher
    assert set(out) == {0, 1}
    assert out[0] > out[1]


def _scores(spark, rows):
    return spark.createDataFrame(rows, ["query_id", "doc_id", "score"])


def test_fuse_weighted_semantics(spark):
    """minimum_should_match=1 ≡ union membership; boosts 1.0/0.8; min_score."""
    b = _scores(spark, [(0, 10, 2.0), (0, 11, 1.0)])
    v = _scores(spark, [(0, 11, 0.5), (0, 12, 0.9)])
    out = {r["doc_id"]: r["score"] for r in HY.fuse_weighted(b, v, k=10).collect()}
    assert abs(out[10] - 2.0) < 1e-12          # bm25-only leg
    assert abs(out[11] - (1.0 + 0.8 * 0.5)) < 1e-12
    assert abs(out[12] - 0.8 * 0.9) < 1e-12    # knn-only leg
    cut = {r["doc_id"] for r in HY.fuse_weighted(b, v, min_score=1.0, k=10).collect()}
    assert cut == {10, 11}


def test_fused_topk_breaks_cross_partition_ties_by_id(spark):
    """600 identical pages tie on BM25 and on cosine (exactly 1.0). They
    arrive in DESCENDING id order over several partitions, each holding
    more ties than either local cut keeps (BM25 top-50, cosine top-3):
    every partition must keep its smallest ids, or the global merge
    returns larger ones. The hybrid hits are decided by the BM25 cut
    (every page is a kNN member), the knn hits by the cosine cut."""
    n = 600
    ids = [f"doc{i:04d}" for i in reversed(range(n))]
    # a parallelized list keeps its order inside each slice
    side = spark.createDataFrame(
        [(d, [1.0, 0.0, 0.0], ["alpha", "beta", "gamma"], "x") for d in ids],
        "id string, embeddings array<float>, terms array<string>, lv1_cat string",
    )
    sizes = side.groupBy(F.spark_partition_id()).count().collect()
    assert len(sizes) >= 2 and max(r["count"] for r in sizes) > 50
    idf = {t: BM25.idf(n, n) for t in ("alpha", "gamma")}
    for mode in ("hybrid", "bm25", "knn"):
        hits = HY.fused_topk(side, [2.0, 0.0, 0.0], idf, 3.0, 3, 50, mode=mode)
        assert [d for d, _ in hits] == sorted(ids)[:3], mode
        assert len({s for _, s in hits}) == 1, mode


def test_fuse_rrf(spark):
    b = _scores(spark, [(0, 10, 2.0), (0, 11, 1.0)])
    v = _scores(spark, [(0, 10, 0.9), (0, 12, 0.8)])
    out = {r["doc_id"]: r["score"] for r in HY.fuse_rrf(b, v, k=10).collect()}
    assert abs(out[10] - (1 / 61 + 1 / 61)) < 1e-12  # rank 1 both legs
    assert abs(out[11] - 1 / 62) < 1e-12
    assert abs(out[12] - 1 / 62) < 1e-12


def test_rerank_token_overlap_orders_by_jaccard(spark):
    from auto_vectordb_spark.operators.hybrid import rerank_token_overlap

    cand = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 8.0), (0, 3, 7.0)], ["query_id", "doc_id", "score"]
    )
    queries = spark.createDataFrame([(0, "alpha beta")], ["query_id", "query_text"])
    docs = spark.createDataFrame(
        [(1, "zeta"), (2, "alpha beta"), (3, "alpha gamma")], ["doc_id", "text"]
    )
    rows = rerank_token_overlap(cand, queries, docs, k=2).collect()
    got = [(r["doc_id"], r["rerank_score"]) for r in rows]
    # doc 2 is a perfect overlap (1.0), doc 3 shares 1 of 3 distinct tokens
    assert got == [(2, 1.0), (3, round(1 / 3, 6))]
    # stage-1 score survives for downstream fusion/inspection
    assert {r["doc_id"]: r["stage1_score"] for r in rows} == {2: 8.0, 3: 7.0}


def _mmr_reference(q, vecs, ids, k, lam):
    """Pure-python MMR for equivalence-gating the Spark kernel."""
    import math

    def norm(v):
        n = math.sqrt(sum(x * x for x in v)) or 1e-30
        return [x / n for x in v]

    qn = norm(q)
    V = [norm(v) for v in vecs]
    rel = [sum(a * b for a, b in zip(qn, v)) for v in V]
    chosen, max_sim = [], [0.0] * len(ids)
    avail = set(range(len(ids)))
    for _ in range(min(k, len(ids))):
        best, best_val = None, None
        for i in sorted(avail):  # id-ascending tie-break (ids pre-sorted)
            val = lam * rel[i] - (1 - lam) * max_sim[i]
            if best_val is None or val > best_val:
                best, best_val = i, val
        chosen.append((ids[best], best_val))
        avail.discard(best)
        for i in avail:
            s = sum(a * b for a, b in zip(V[best], V[i]))
            max_sim[i] = max(max_sim[i], s)
    return chosen


def test_mmr_rerank_matches_reference(spark):
    import random

    rng = random.Random(7)
    dim = 8
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(30)]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = spark.createDataFrame([(0, vecs[3][1])], ["query_id", "embedding"])
    cands = spark.createDataFrame(
        [(0, i, 0.0) for i in range(30)], ["query_id", "vec_id", "score"]
    )
    out = HY.mmr_rerank(cands, corpus, queries, k=5, lam=0.7).collect()
    got = [(r["vec_id"], r["mmr_rank"], r["mmr_score"]) for r in sorted(out, key=lambda r: r["mmr_rank"])]
    ids = [v[0] for v in vecs]
    expect = _mmr_reference(vecs[3][1], [v[1] for v in vecs], ids, k=5, lam=0.7)
    assert [g[0] for g in got] == [e[0] for e in expect]
    assert [g[1] for g in got] == [1, 2, 3, 4, 5]
    for g, e in zip(got, expect):
        assert abs(g[2] - e[1]) < 1e-5
    # the first pick is the pure-relevance argmax — the query's own vector
    assert got[0][0] == 3


def test_mmr_diversifies_away_from_duplicates(spark):
    # two identical high-relevance vectors: MMR must not pick both early.
    # the query leans slightly toward the orthogonal axis so the diversified
    # candidate has positive relevance (an exactly-zero-relevance candidate
    # would tie the redundant twin at marginal 0 and lose on the id break)
    base = [1.0, 0.0, 0.0, 0.0]
    ortho = [0.0, 1.0, 0.0, 0.0]
    query = [1.0, 0.3, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [(0, base), (1, list(base)), (3, ortho)],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame([(0, query)], ["query_id", "embedding"])
    cands = spark.createDataFrame(
        [(0, i, 0.0) for i in (0, 1, 3)], ["query_id", "vec_id", "score"]
    )
    out = HY.mmr_rerank(cands, corpus, queries, k=3, lam=0.5).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
    # pick 0 (tie with its twin, id-break), then the orthogonal one —
    # the identical twin's marginal is negative and it comes last
    assert order == [0, 3, 1]


def test_pack_context_budget_prefix_cut(spark):
    from auto_vectordb_spark.operators import hybrid as HY

    results = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (1, 13, 0.6), (2, 10, 0.5)],
        ["query_id", "doc_id", "score"],
    )
    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "d e"), (12, "f g h i j k l m n o"), (13, "p")],
        ["doc_id", "text"],
    )
    rows = HY.pack_context_budget(results, docs, token_budget=6).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # q1: docs 10(3)+11(2)=5 fit; doc 12 overflows (15) and BLOCKS doc 13
    # even though 5+1 would fit — prefix cut, not knapsack
    q1 = sorted(by_q[1], key=lambda r: r["rank"])
    assert [r["doc_id"] for r in q1] == [10, 11]
    assert [r["cum_tokens"] for r in q1] == [3, 5]
    assert [r["rank"] for r in q1] == [1, 2]
    # q2: single 3-token doc fits
    assert [(r["doc_id"], r["cum_tokens"]) for r in by_q[2]] == [(10, 3)]


def test_pack_context_budget_missing_doc_id_fails_loudly(spark):
    """A retrieved doc_id absent from the docs table raises instead of
    being silently dropped and the pack renumbered around it (round-5
    advice: referential corruption must surface)."""
    import pytest

    from auto_vectordb_spark.operators import hybrid as HY

    results = spark.createDataFrame(
        [(1, 10, 0.9), (1, 99, 0.8)], ["query_id", "doc_id", "score"]
    )
    docs = spark.createDataFrame([(10, "a b c")], ["doc_id", "text"])
    with pytest.raises(Exception, match="absent from docs table"):
        HY.pack_context_budget(results, docs, token_budget=100).collect()


def test_maxsim_soft_lexical_match_ranks_related_doc_first(spark):
    """Shared-morphology tokens (shared char trigrams) must outscore a
    disjoint-alphabet doc; self-match is excluded when asked."""
    from auto_vectordb_spark.operators import latesim as LS

    docs = spark.createDataFrame(
        [
            (0, "running jumper quickly"),
            (1, "runner jumping quick"),
            (2, "zzz qqq vvv xxy"),
        ],
        ["doc_id", "text"],
    )
    q = docs.filter("doc_id = 0").selectExpr("doc_id AS query_id", "text")
    rows = LS.maxsim_topk(q, docs, k=3, exclude_self=True).collect()
    assert all(r["doc_id"] != 0 for r in rows)
    scores = {r["doc_id"]: r["maxsim_q"] for r in rows}
    assert scores[1] > scores[2]


def test_maxsim_token_embeddings_normalized_and_sparse(spark):
    import math

    from auto_vectordb_spark.operators import latesim as LS

    terms = spark.createDataFrame([("hello",), ("a",)], ["term"])
    rows = LS.token_embeddings(terms).collect()
    by_term = {}
    for r in rows:
        assert r["w"] != 0.0  # zero dims dropped
        by_term.setdefault(r["term"], []).append(r["w"])
    for t, ws in by_term.items():
        assert math.isclose(sum(w * w for w in ws), 1.0, rel_tol=1e-4), t
    # 'a' has exactly one trigram '^a$' -> a single ±1 dimension
    assert len(by_term["a"]) == 1 and abs(by_term["a"][0]) == 1.0


def test_prf_expansion_excludes_query_terms_and_ranks_by_tf(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "apple banana banana cherry"),
            (2, "apple banana durian durian durian"),
            (3, "apple cherry cherry fig"),
            (4, "unrelated words here entirely"),
        ],
        ["doc_id", "text"],
    )
    index = BM25.build_index(docs)
    terms = spark.createDataFrame([(0, "apple")], ["query_id", "term"])
    out = BM25.prf_expansion(index, terms, fb_docs=3, fb_terms=2).collect()
    got = [(r["term"], r["fb_tf"], r["fb_df"]) for r in out]
    # feedback docs = 1,2,3 (all contain apple); candidate tfs:
    # banana 3 (docs 1,2), cherry 3 (docs 1,3), durian 3 (doc 2), fig 1
    # fb_tf ties broken term-ASC -> banana, cherry
    assert got == [("banana", 3, 2), ("cherry", 3, 2)]
    assert all(r["term"] != "apple" for r in out)


def test_pack_context_budget_null_doc_id_fails_row_not_job(spark):
    """A NULL retrieved doc_id is a malformed ROW (no identity to cite),
    not a dangling reference — it is dropped before ranking, while a
    genuine non-NULL missing id still fails the job loudly."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "three four five")], ["doc_id", "text"]
    )
    results = spark.createDataFrame(
        [(0, 1, 0.9), (0, None, 0.95), (0, 2, 0.8)],
        "query_id long, doc_id long, score double",
    )
    rows = HY.pack_context_budget(results, docs, token_budget=100).collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(1, 1), (2, 2)]

    bad = spark.createDataFrame(
        [(0, 1, 0.9), (0, 99, 0.95)],
        "query_id long, doc_id long, score double",
    )
    with pytest.raises(Exception, match="absent"):
        HY.pack_context_budget(bad, docs, token_budget=100).collect()
