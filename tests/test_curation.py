"""Gates for the curation-rule operators (operators/curation.py) and the
IVF-PQ composed ANN tier: flag consistency, cap/quota exactness, growth
stability, score equivalence, and recall."""

import pytest
from pyspark.sql import functions as F

from auto_vectordb_spark.operators import curation as CU
from auto_vectordb_spark.operators import knn as KNN
from auto_vectordb_spark.operators import pq as PQ
from auto_vectordb_spark.plans.parity import load_views


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_views(spark, sf_dir)


def test_gopher_flags_consistent_and_nonvacuous(spark, tables):
    out = CU.gopher_rules(tables["documents"]).collect()
    assert len(out) == tables["documents"].count()
    for r in out:
        expect = (
            r["ok_word_count"]
            and r["ok_mean_word_len"]
            and r["ok_symbol_ratio"]
            and r["ok_alpha_words"]
            and r["ok_stopwords"]
        )
        assert r["keep"] == expect, r
    keeps = {r["keep"] for r in out}
    assert keeps == {True, False}, "rule thresholds vacuous on this corpus"


def test_domain_cap_respects_cap_and_is_prefix_stable(spark, tables):
    docs = tables["documents"]
    cap10 = CU.domain_cap(docs, 10)
    per = cap10.groupBy("source").count().collect()
    assert per and all(r["count"] <= 10 for r in per)
    # growth stability: the cap-5 selection is a subset of the cap-10 one
    ids5 = {r["doc_id"] for r in CU.domain_cap(docs, 5).select("doc_id").collect()}
    ids10 = {r["doc_id"] for r in cap10.select("doc_id").collect()}
    assert ids5 <= ids10 and len(ids5) < len(ids10)


def test_rebalance_temperature_quota_and_flattening(spark, tables):
    docs = tables["documents"]
    natural = dict(
        (r["lang"], r["count"]) for r in docs.groupBy("lang").count().collect()
    )
    # alpha=1 reproduces the natural mix exactly (share_g = n_g/N, quota=n_g)
    full = CU.domain_rebalance_temperature(docs, alpha=1.0, group_col="lang")
    assert full.count() == docs.count()
    # alpha=0.5 flattens: max/min group ratio strictly decreases
    half = dict(
        (r["lang"], r["count"])
        for r in CU.domain_rebalance_temperature(docs, alpha=0.5, group_col="lang")
        .groupBy("lang")
        .count()
        .collect()
    )
    assert set(half) == set(natural)
    nat_ratio = max(natural.values()) / min(natural.values())
    half_ratio = max(half.values()) / min(half.values())
    assert half_ratio < nat_ratio
    for lang, n in half.items():
        assert n <= natural[lang]


def test_fertility_report_shape(spark, tables):
    out = {r["lang"]: r for r in CU.fertility_by_lang(tables["documents"]).collect()}
    langs = {r["lang"] for r in tables["documents"].select("lang").distinct().collect()}
    assert set(out) == langs
    for r in out.values():
        assert r["n_docs"] > 0 and r["avg_tokens"] > 0
        assert 0 < r["avg_chars_per_token"] < 20


@pytest.fixture(scope="module")
def pq_setup(tables):
    emb = tables["embeddings"]
    centroids = KNN.label_centroids(emb)
    cells = KNN.ivf_build(emb, centroids).select("vec_id", "centroid_id")
    books = PQ.pq_codebooks_seed(emb, m=4, ksub=16)
    codes_indexed = PQ.pq_encode(emb, books).join(cells, "vec_id").persist()
    codes_indexed.count()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, centroids, books, codes_indexed, queries


def test_ivf_pq_full_probe_equals_full_scan_adc(spark, pq_setup):
    """nprobe = n_cells must reproduce the full-scan ADC result exactly —
    the pruning is then a no-op and scoring is the identical int64 ADC."""
    emb, centroids, books, codes_indexed, queries = pq_setup
    n_cells = centroids.count()
    full = sorted(
        (r["query_id"], r["vec_id"], r["adist"])
        for r in PQ.pq_adc_topk(queries, codes_indexed.drop("centroid_id"), books).collect()
    )
    probed = sorted(
        (r["query_id"], r["vec_id"], r["adist"])
        for r in PQ.ivf_pq_topk(
            queries, codes_indexed, centroids, books, nprobe=n_cells
        ).collect()
    )
    assert probed == full and len(full) > 0


def test_ivf_pq_recall_vs_full_adc(spark, pq_setup):
    """Pruned search must retain most of the full-scan ADC top-10.

    The synthetic embeddings are unit-norm and near-uniform on the sphere
    (true neighbors spread across labels — verified: a query's exact top-10
    spans ~7 distinct labels), so IVF recall grows ~linearly with nprobe
    and nprobe=3/10 cells caps near 0.56; probe over half the cells
    (nprobe=6, measured 0.74) for a meaningful-but-stable gate. Clustered
    real corpora sit far above this line."""
    emb, centroids, books, codes_indexed, queries = pq_setup
    full = PQ.pq_adc_topk(queries, codes_indexed.drop("centroid_id"), books, k=10)
    pruned = PQ.ivf_pq_topk(queries, codes_indexed, centroids, books, k=10, nprobe=6)
    f = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    p = {(r["query_id"], r["vec_id"]) for r in pruned.collect()}
    assert len(f) == 50
    recall = len(f & p) / len(f)
    assert recall >= 0.7, f"IVF-PQ recall {recall} too low"


def test_quality_classifier_learns_weak_labels(spark, sf_dir):
    """fastText-style classifier (hashed tokens -> MLlib LR) must learn the
    Gopher weak labels well out-of-sample (AUC gate) and score map-only."""
    from pyspark.sql import functions as F

    from auto_vectordb_spark.operators import curation as CU
    from auto_vectordb_spark.operators import quality as Q

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labels = CU.gopher_rules(docs).select(
        "doc_id", F.col("keep").cast("int").alias("label")
    )
    data = docs.join(labels, "doc_id")
    train = data.filter(F.col("doc_id") % 2 == 0)
    test = data.filter(F.col("doc_id") % 2 == 1)
    model = Q.train_quality_classifier(train)
    scored = Q.score_quality_classifier(model, test).join(labels, "doc_id")
    rows = scored.collect()
    assert rows and set(scored.columns) == {"doc_id", "clf_quality", "predicted", "label"}
    assert all(0.0 <= r["clf_quality"] <= 1.0 for r in rows)
    pos = [r["clf_quality"] for r in rows if r["label"] == 1]
    neg = [r["clf_quality"] for r in rows if r["label"] == 0]
    assert pos and neg
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    auc = wins / (len(pos) * len(neg))
    assert auc >= 0.85, f"held-out AUC {auc:.3f}"
    # scoring plan is map-only: no exchange over the corpus
    plan = Q.score_quality_classifier(model, test)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan.split("== Initial Plan ==")[0]


def test_oov_rate_by_lang_accounting(spark):
    from auto_vectordb_spark.operators import curation as CU

    # vocab_size=2 keeps {common, shared} (tf desc, term asc); rare* are OOV
    docs = spark.createDataFrame(
        [
            (0, "common common shared rare1", "en"),
            (1, "common shared rare2 rare2", "en"),
            (2, "common shared", "de"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {r["lang"]: r for r in CU.oov_rate_by_lang(docs, vocab_size=2).collect()}
    en, de = rows["en"], rows["de"]
    assert (en["n_tokens"], en["n_oov"], en["n_oov_terms"]) == (8, 3, 2)
    assert en["oov_rate"] == 3 / 8
    assert (de["n_tokens"], de["n_oov"], de["n_oov_terms"]) == (2, 0, 0)
    assert de["oov_rate"] == 0.0


def test_quality_calibration_bins_partition_the_corpus(spark, sf_dir):
    from auto_vectordb_spark.operators import quality as QL

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = QL.quality_calibration(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["n_keep"] <= r["n_docs"]
        assert r["keep_rate"] == r["n_keep"] / r["n_docs"]


def test_pack_sequences_accounts_every_token_and_doc(spark, tables):
    docs = tables["documents"]
    packs = CU.pack_sequences(docs, ctx_len=512).collect()
    from auto_vectordb_spark.functions.text import tokenize

    total_toks = docs.select(F.sum(F.size(tokenize(F.col("text")))).alias("t")).collect()[0]["t"]
    assert sum(r["n_tokens"] for r in packs) == total_toks
    assert sum(r["n_docs"] for r in packs) == docs.count()
    # pack ids are dense from 0 within each source
    by_src = {}
    for r in packs:
        by_src.setdefault(r["source"], []).append(r["pack_id"])
    for src, ids in by_src.items():
        assert sorted(ids) == list(range(len(ids))), src
    # every non-terminal pack spans at least the context (straddle >= ctx)
    for src, ids in by_src.items():
        rows = sorted((r for r in packs if r["source"] == src), key=lambda r: r["pack_id"])
        cum = 0
        for r in rows[:-1]:
            cum += r["n_tokens"]
            assert cum >= 512 * (r["pack_id"] + 1), (src, r)


def test_pack_sequences_fill_is_tokens_over_ctx(spark, tables):
    packs = CU.pack_sequences(tables["documents"], ctx_len=512).collect()
    for r in packs:
        assert r["fill"] == r["n_tokens"] / 512


def test_ccnet_buckets_partition_whole_corpus_and_order(spark, tables):
    from auto_vectordb_spark.operators import quality as QLQ

    docs = tables["documents"]
    out = {r["bucket"]: r for r in QLQ.ccnet_perplexity_buckets(docs).collect()}
    assert set(out) == {"head", "middle", "tail"}
    scored = QLQ.bigram_lm_score(docs)
    assert sum(r["n_docs"] for r in out.values()) == scored.count()
    # fluency ordering: head (low nll) < middle < tail on token-weighted mean
    m = {b: out[b]["nll_q"] / (out[b]["n_bigrams"] * 1_000_000) for b in out}
    assert m["head"] < m["middle"] < m["tail"]
    for r in out.values():
        assert r["mean_nll"] == r["nll_q"] / (r["n_bigrams"] * 1_000_000)


def test_ccnet_buckets_empty_sample_lands_unsampled(spark):
    """No id ≡ 0 (mod sample_mod) => NULL cutoffs; rather than silently
    classifying the whole corpus 'tail', every doc lands in an explicit
    'unsampled' bucket (round-5 advice: fail loudly)."""
    from auto_vectordb_spark.operators import quality as QLQ

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (3, "beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    out = QLQ.ccnet_perplexity_buckets(docs, sample_mod=20).collect()
    assert {r["bucket"] for r in out} == {"unsampled"}
    assert sum(r["n_docs"] for r in out) == 2


def test_curation_funnel_partitions_corpus_first_fail(spark, tables):
    from pyspark.sql import functions as F

    docs = tables["documents"]
    rows = CU.curation_funnel(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    stages = {r["stage"] for r in rows}
    assert "4_keep" in stages and len(stages) >= 2  # non-vacuous funnel
    # dup stage equals the exact-dedup loser count (first-fail = dup first)
    from auto_vectordb_spark.operators.dedup import exact_dedup

    losers = docs.count() - exact_dedup(docs).count()
    got_dup = sum(r["n_docs"] for r in rows if r["stage"] == "1_dup")
    assert got_dup == losers


def test_train_quality_classifier_empty_slice_raises_typed_error(spark):
    """Empty-input contract (SCALE.md r7): training on zero examples has
    no degenerate model — the operator must fail LOUDLY with an error
    naming the cause, not MLlib's opaque summarizer failure."""
    from auto_vectordb_spark.operators import quality as Q

    empty = spark.createDataFrame([], "doc_id long, text string, label int")
    with pytest.raises(Q.EmptyTrainingSliceError, match="empty training slice"):
        Q.train_quality_classifier(empty)


def test_classifier_entry_reraises_unrelated_valueerror(spark, sf_dir, monkeypatch):
    """The quality_classifier_score entry degrades to an empty scored table
    ONLY on train_quality_classifier's own typed empty-slice signal; any
    other ValueError (MLlib param validation, future refactors) must
    propagate — a bare `except ValueError` silently swallowed them
    (ADVICE r7). Since r9 the entry catches the typed
    EmptyTrainingSliceError (isinstance, not message-match)."""
    from auto_vectordb_spark.operators import quality as Q
    from auto_vectordb_spark.plans.parity import REGISTRY

    def boom(*a, **k):
        raise ValueError("totally unrelated MLlib failure")

    monkeypatch.setattr(Q, "train_quality_classifier", boom)
    with pytest.raises(ValueError, match="totally unrelated"):
        REGISTRY["quality_classifier_score"].spark(spark, sf_dir).collect()
