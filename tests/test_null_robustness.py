"""Null/empty-text robustness: every text operator must tolerate NULL and
empty documents (at 100 TB there WILL be malformed rows; a null must never
fail the job — SURVEY §1.3 'dynamic fields' / error-row stance)."""

import itertools

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dirty_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a normal document with several tokens"),
            (2, ""),
            (3, None),
            (4, "   "),
            (5, "!!! ??? ..."),  # punctuation only -> zero tokens
        ],
        "doc_id long, text string",
    )


def test_token_stats_null_safe(dirty_docs):
    from auto_vectordb_spark.operators.textstats import token_stats

    got = {r["doc_id"]: r for r in token_stats(dirty_docs).collect()}
    assert got[1]["n_tokens"] == 6
    for d in (2, 4, 5):
        assert got[d]["n_tokens"] == 0 and got[d]["ttr"] == 0.0
    # null text: size(null)=-1 is NOT acceptable; row must still exist
    assert 3 in got


def test_quality_and_langid_null_safe(dirty_docs):
    from auto_vectordb_spark.operators.textstats import language_id, quality_score

    q = {r["doc_id"]: r for r in quality_score(dirty_docs).collect()}
    assert len(q) == 5
    assert all(r["quality"] is None or 0.0 <= r["quality"] <= 1.0 for r in q.values())
    lang = {r["doc_id"]: r["lang_guess"] for r in language_id(dirty_docs).collect()}
    assert lang[2] == "und" and lang[5] == "und"


def test_dedup_tiers_null_safe(dirty_docs):
    from auto_vectordb_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    assert exact_dedup(dirty_docs).count() >= 3  # null+'' hash differently or drop
    # pair generators must simply not crash / not pair empty docs
    assert minhash_lsh_pairs(dirty_docs).count() == 0
    assert ngram_jaccard_pairs(dirty_docs, threshold=0.1).count() == 0
    assert simhash_pairs(dirty_docs).count() == 0


def test_chunk_scrub_repetition_null_safe(dirty_docs):
    from auto_vectordb_spark.operators.textstats import (
        bpe_token_counts,
        chunk_text,
        repetition_stats,
        scrub,
    )

    assert chunk_text(dirty_docs).filter(F.col("doc_id") == 1).count() == 1
    assert chunk_text(dirty_docs).filter(F.col("doc_id").isin(2, 3, 4, 5)).count() == 0
    assert scrub(dirty_docs).count() == 5
    assert repetition_stats(dirty_docs).count() == 5
    assert bpe_token_counts(dirty_docs).count() == 5


def test_embedder_null_safe(spark, dirty_docs):
    from auto_vectordb_spark.functions.embedding import embed_udf

    out = dirty_docs.select("doc_id", embed_udf(16)(F.col("text")).alias("e")).collect()
    got = {r["doc_id"]: r["e"] for r in out}
    assert len(got[1]) == 16 and any(v != 0 for v in got[1])
    # empty/null docs embed to the zero vector, not an error
    for d in (2, 3, 4):
        assert got[d] is not None and all(v == 0.0 for v in got[d])


def test_sentence_ops_null_safe(spark, dirty_docs):
    from auto_vectordb_spark.operators.dedup import (
        remove_dup_sentences,
        sentence_crossdoc_dups,
    )
    from auto_vectordb_spark.operators.textstats import sentence_segments

    seg = sentence_segments(dirty_docs)
    got = {r["doc_id"] for r in seg.select("doc_id").distinct().collect()}
    # null/empty/whitespace docs contribute zero sentences, no error
    assert 1 in got and 3 not in got and 2 not in got and 4 not in got
    assert sentence_crossdoc_dups(seg).count() == 0  # nothing repeats
    rem = remove_dup_sentences(seg)
    # only docs that HAD sentences appear; nothing removed
    assert rem.filter(F.col("n_removed") != 0).count() == 0


def test_volume_monitors_null_safe(spark):
    from datetime import datetime

    from auto_vectordb_spark.operators.analytics import (
        seasonal_deviation,
        volume_anomaly_mad,
        volume_anomaly_zscore,
    )

    ev = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 2)),
            ("a", None),  # null ts -> null hour bucket, must not error
            (None, datetime(2024, 1, 1, 3)),  # null type -> its own group
        ],
        "event_type string, ts timestamp",
    )
    # no silent drops: null type -> "__null__" stream, null ts -> its own
    # "__null__"-hour cell (hod -1 baseline in the seasonal monitor); the
    # hour sentinel keeps downstream equi-joins from dropping the bucket
    for fn in (volume_anomaly_zscore, volume_anomaly_mad, seasonal_deviation):
        rows = fn(ev).collect()
        assert len(rows) == 3, fn.__name__
        assert {r["event_type"] for r in rows} == {"a", "__null__"}
        null_ts_cells = [r for r in rows if r["hour"] == "__null__"]
        assert len(null_ts_cells) == 1, fn.__name__
        assert null_ts_cells[0]["event_type"] == "a"


@pytest.fixture(scope="module")
def dirty_sourced_docs(spark):
    """dirty_docs plus the source/n_chars columns the wave-2 ops read."""
    return spark.createDataFrame(
        [
            (1, "a normal document with several tokens", "s1", 38),
            (2, "", "s1", 0),
            (3, None, "s2", None),
            (4, "   ", None, 3),
            (5, "!!! ??? ...", "s2", 11),
        ],
        "doc_id long, text string, source string, n_chars long",
    )


def test_wave2_curation_ops_null_safe(dirty_sourced_docs):
    from auto_vectordb_spark.operators.curation import curation_funnel, pack_sequences

    packs = pack_sequences(dirty_sourced_docs).collect()
    assert sum(r["n_docs"] for r in packs) == 5  # null text/source still packed
    funnel = curation_funnel(dirty_sourced_docs).collect()
    assert sum(r["n_docs"] for r in funnel) == 5
    # null/empty text must FAIL a gate (zero words), never slip into keep
    assert all(r["stage"] != "4_keep" for r in funnel)


def test_wave2_dedup_and_stats_null_safe(dirty_sourced_docs):
    from auto_vectordb_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_novelty,
        prefix_blocked_levenshtein_pairs,
    )
    from auto_vectordb_spark.operators.textstats import token_entropy

    # pair generators: no crash, no pairs from empty/null probes
    assert ngram_containment_pairs(dirty_sourced_docs, threshold=0.5).count() == 0
    assert prefix_blocked_levenshtein_pairs(dirty_sourced_docs).count() == 0
    nov = ngram_novelty(dirty_sourced_docs, dirty_sourced_docs).collect()
    assert all(r["novelty"] == 0.0 for r in nov)  # self-reference
    ent = token_entropy(dirty_sourced_docs).collect()
    assert len(ent) == 1  # only the one tokenizable doc has an entropy


def test_wave2_profiling_ops_null_safe(dirty_sourced_docs):
    from auto_vectordb_spark.operators.profiling import (
        length_percentiles,
        shard_skew,
        table_profile,
    )

    prof = {r["col_name"]: r for r in table_profile(dirty_sourced_docs).collect()}
    assert prof["text"]["n_null"] == 1 and prof["source"]["n_null"] == 1
    sk = shard_skew(dirty_sourced_docs).collect()
    assert sum(r["n_docs"] for r in sk) == 5  # null weight doesn't drop the doc
    pct = length_percentiles(dirty_sourced_docs).collect()
    assert sum(r["n"] for r in pct) == 5


@pytest.fixture(scope="module")
def zero_norm_vectors(spark):
    """A corpus containing a dead (all-zero) embedding — at 100 TB there
    WILL be one, and a single row must never kill the job (the bare
    double division throws DIVIDE_BY_ZERO under Spark's default ANSI
    mode)."""
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.8, 0.6, 0.0]),
            (3, [0.0, 0.0, 0.0]),  # dead vector
            (4, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )


def test_knn_exact_zero_norm_corpus_row(zero_norm_vectors):
    from auto_vectordb_spark.operators.knn import knn_exact

    q = zero_norm_vectors.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = knn_exact(q, zero_norm_vectors, k=3).collect()
    # no exception, and the dead vector never wins a slot over live ones:
    # its cosine is NULL, which sorts last under the desc top-k
    got = [r["vec_id"] for r in rows]
    assert got[0] == 1
    assert 3 not in got[:3]
    assert all(r["score"] is not None for r in rows if r["vec_id"] != 3)


def test_knn_exact_zero_norm_query_scores_null(zero_norm_vectors):
    from auto_vectordb_spark.functions import vector as V

    df = zero_norm_vectors.select(
        "vec_id",
        V.cosine(F.col("embedding"), F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0))).alias("c"),
    )
    assert all(r["c"] is None for r in df.collect())


def test_knn_blas_zero_norm_no_nan(zero_norm_vectors):
    from auto_vectordb_spark.operators.knn import knn_exact_blas

    q = zero_norm_vectors.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = knn_exact_blas(q, zero_norm_vectors, k=4).collect()
    import math

    scores = {r["vec_id"]: r["score"] for r in rows}
    assert not any(math.isnan(s) for s in scores.values())
    # the dead vector's cosine is exactly 0.0 in the BLAS kernel
    assert scores.get(3, 0.0) == 0.0


def test_embedding_neardup_zero_norm_never_pairs(zero_norm_vectors):
    from auto_vectordb_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blas_bucketed,
    )

    def one_cell(vectors, threshold):
        return embedding_neardup_pairs_blas_bucketed(
            vectors, threshold=threshold, num_tables=1, bits_per_table=0
        )

    dup = zero_norm_vectors.union(
        zero_norm_vectors.select(
            (F.col("vec_id") + 10).alias("vec_id"), "embedding"
        )
    )
    # -1.0 admits every live pair: a dead vector's cosine is NULL in the
    # expression kernel and must not pass as 0.0 in the BLAS walker
    for fn, threshold in itertools.product((embedding_neardup_pairs, one_cell), (0.95, -1.0)):
        pairs = fn(dup, threshold=threshold).collect()
        ids = {x for r in pairs for x in (r["id_a"], r["id_b"])}
        assert 3 not in ids and 13 not in ids, (fn.__name__, threshold)
        # live exact duplicates still pair
        assert any({r["id_a"], r["id_b"]} == {1, 11} for r in pairs), fn.__name__


def test_nan_embedding_never_wins_topk(spark):
    """Spark orders NaN as the LARGEST double, so without the nan_to_null
    guard inside cosine a single NaN embedding wins EVERY desc top-k —
    silent retrieval corruption. NaN and zero-norm both score NULL and
    sort last."""
    from auto_vectordb_spark.operators.knn import knn_exact

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [float("nan"), 1.0]),
         (4, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = knn_exact(q, vecs, k=4).collect()
    assert [r["vec_id"] for r in rows[:2]] == [1, 2]
    assert all(r["score"] is None for r in rows if r["vec_id"] in (3, 4))
