"""Unit gates for functions/cleanvec.py — the shared row-hygiene contract
of the BLAS/LSH kernels (r9 fix for the five deferred empty/dirty
crashers). The end-to-end coverage lives in the empty/dirty mirror gates;
these pin the helper semantics and the builder-level degenerate returns."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from auto_vectordb_spark.functions import cleanvec as CV
from auto_vectordb_spark.operators import dedup as DD
from auto_vectordb_spark.operators import knn as KNN


# ---------------------------------------------------------------- helpers


def test_modal_dim_picks_majority_and_ignores_invalid():
    # lengths of [[1, 2], None, [3], [], [4, 5]]: NULL and empty do not vote
    assert CV.modal_dim([2, None, 1, 0, 2]) == 2
    assert CV.modal_dim([None, 0]) is None
    assert CV.modal_dim([]) is None
    # tie prefers the larger dimension (a truncated row is the likelier
    # corruption than a padded one)
    assert CV.modal_dim([1, 2]) == 2


def test_probe_dim_on_dataframe(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [0.5, 0.5, 0.5]), (4, [3.0, 4.0]), (5, [])],
        "vec_id long, embedding array<double>",
    )
    assert CV.probe_dim(df, "embedding") == 2
    assert CV.probe_dim(df.where(F.lit(False)), "embedding") is None
    assert CV.probe_dim(df.where("embedding is null"), "embedding") is None


def _vecs(values, type_=pa.float64()):
    return pa.array(values, type=pa.list_(type_))


def test_clean_block_masks_bad_vectors_and_null_ids():
    """The decode row contract: NULL, ragged and empty vectors drop (NULL
    ids are dropped by every caller's JVM-side filter, not here)."""
    arr = _vecs([[1.0, 2.0], None, [3.0, 4.0], [9.0], [], [5.0, 6.0]])
    mask, M = CV.decode(arr, 2)
    assert mask.tolist() == [True, False, True, False, False, True]
    assert M.shape == (3, 2) and M.dtype == np.float64
    assert M.tolist() == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    # nothing survives -> (all-false mask, None), never a (0, dim) matrix
    mask2, M2 = CV.decode(arr.slice(3, 2), 2)
    assert mask2.tolist() == [False, False] and M2 is None
    mask3, M3 = CV.decode(arr.slice(0, 0), 2)
    assert mask3.tolist() == [] and M3 is None
    # dim=None: the modal length of the array itself (driver collects)
    mask4, M4 = CV.decode(_vecs([[1.0], [1.0, 2.0], [3.0, 4.0], None]))
    assert mask4.tolist() == [False, True, True, False] and M4.shape == (2, 2)
    assert CV.decode(_vecs([None, []]))[1] is None
    # float32 storage decodes to float64; a chunked collect decodes whole
    f32 = pa.float32()
    chunks = pa.chunked_array([_vecs([[0.5, 1.5]], f32), _vecs([[2.5, 3.5]], f32)])
    _, M5 = CV.decode(chunks, 2)
    assert M5.dtype == np.float64 and M5.tolist() == [[0.5, 1.5], [2.5, 3.5]]


# ------------------------------------------------- builder-level contracts


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("case", ["empty", "all_null"])
def test_knn_exact_blas_degenerate_query_side(spark, case):
    corpus = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    queries = (
        _emb(spark, []) if case == "empty" else _emb(spark, [(7, None), (8, [])])
    ).withColumnRenamed("vec_id", "query_id")
    out = KNN.knn_exact_blas(queries, corpus, k=2)
    assert out.columns == ["query_id", "vec_id", "score"]
    assert out.count() == 0


def test_knn_exact_blas_drops_dirty_rows_matches_clean_run(spark):
    clean_corpus = [(i, [float(i), 1.0]) for i in range(1, 6)]
    dirty_corpus = clean_corpus + [(9, None), (10, [1.0]), (None, [1.0, 1.0])]
    queries = _emb(spark, [(0, [1.0, 1.0]), (1, None)]).withColumnRenamed(
        "vec_id", "query_id"
    )
    got = KNN.knn_exact_blas(queries, _emb(spark, dirty_corpus), k=3, round_decimals=6)
    want = KNN.knn_exact_blas(
        queries.where("embedding is not null"), _emb(spark, clean_corpus), k=3,
        round_decimals=6,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _one_cell(vectors, **kw):
    return DD.embedding_neardup_pairs_blas_bucketed(
        vectors, num_tables=1, bits_per_table=0, **kw
    )


def test_blas_neardup_builders_degenerate_on_empty_and_all_null(spark):
    for vectors in (_emb(spark, []), _emb(spark, [(1, None), (2, [])])):
        for fn in (_one_cell, DD.embedding_neardup_pairs_blas_bucketed):
            out = fn(vectors)
            assert out.columns == ["id_a", "id_b", "cosine"]
            assert out.count() == 0


def test_blas_neardup_dirty_rows_match_clean_run(spark):
    clean = [(i, [1.0, float(i % 3)]) for i in range(1, 8)]
    dirty = clean + [(11, None), (12, [1.0, 2.0, 3.0]), (None, [1.0, 1.0]), (13, [])]
    got = _one_cell(_emb(spark, dirty), threshold=0.9)
    want = _one_cell(_emb(spark, clean), threshold=0.9)
    k = lambda df: sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in df.collect())  # noqa: E731
    assert k(got) == k(want)


def test_lsh_model_none_on_empty_and_search_degrades(spark):
    model, indexed = KNN.lsh_model(_emb(spark, [(1, None)]))
    assert model is None
    out = KNN.lsh_search(model, indexed, [1.0, 0.0], k=3)
    assert "distance" in out.columns
    assert out.count() == 0


def test_clean_block_drops_nonfinite_vectors():
    import math

    arr = _vecs(
        [
            [1.0, 2.0],
            [math.nan, 1.0],   # NaN element: row drops
            [math.inf, 0.0],   # inf element: row drops
            [3.0, 4.0],
        ]
    )
    mask, M = CV.decode(arr, 2)
    assert mask.tolist() == [True, False, False, True]
    assert M.shape == (2, 2) and np.isfinite(M).all()
    mask2, M2 = CV.decode(arr.slice(1, 2), 2)
    assert not mask2.any() and M2 is None


def test_knn_exact_dot_metric_nan_vector_never_wins(spark):
    """Spark orders NaN as the LARGEST double, so without the isnan guard
    a single NaN embedding wins EVERY desc top-k under the dot metric
    (cosine is already nan_to_null'd) — silent retrieval corruption."""
    import math

    corpus = _emb(
        spark,
        [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [math.nan, 1.0]), (4, [0.0, 1.0])],
    )
    queries = _emb(spark, [(0, [1.0, 1.0])]).withColumnRenamed("vec_id", "query_id")
    got = KNN.knn_exact(queries, corpus, k=3, metric="dot").collect()
    ids = [r["vec_id"] for r in got]
    assert 3 not in ids, f"NaN corpus vector hijacked the top-k: {ids}"
    assert len(ids) == 3 and all(
        r["score"] == r["score"] for r in got
    )  # no NaN scores emitted


def test_knn_exact_blas_nan_query_and_corpus_rows_drop(spark):
    import math

    corpus = _emb(
        spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [math.nan, math.nan])]
    )
    queries = _emb(
        spark, [(0, [1.0, 1.0]), (9, [math.nan, 0.0])]
    ).withColumnRenamed("vec_id", "query_id")
    got = KNN.knn_exact_blas(queries, corpus, k=3, round_decimals=6).collect()
    assert {r["query_id"] for r in got} == {0}  # NaN query retrieves nothing
    assert all(r["vec_id"] != 3 for r in got)   # NaN corpus row never retrieved


def test_valid_vec_predicate(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),            # valid
            (2, None),                  # NULL vector
            (3, []),                    # zero-length
            (4, [1.0, None]),           # NULL element
            (5, [1.0, 2.0, 3.0]),       # ragged (vs dim=2)
            (6, [math.nan, 1.0]),       # NaN element: allowed here (kernels
        ],                              # mask it; expressions nan_to_null it)
        "vec_id long, embedding array<double>",
    )
    ids = lambda c: sorted(r["vec_id"] for r in df.where(c).collect())  # noqa: E731
    assert ids(CV.valid_vec("embedding")) == [1, 5, 6]
    assert ids(CV.valid_vec("embedding", dim=2)) == [1, 6]


def test_clean_rows_survives_null_element_vectors(spark):
    """A NULL element in a driver-side ``toArrow()`` collect must drop its
    row, not poison the matrix or kill the driver."""
    t = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, None]), (3, [float("nan"), 1.0])],
        "query_id long, embedding array<double>",
    ).toArrow()
    mask, M = CV.decode(t.column("embedding"))
    assert t.column("query_id").to_numpy()[mask].tolist() == [1]
    assert M.tolist() == [[1.0, 2.0]]


# ------------------------------------------------- property-based contract

from hypothesis import given, settings
from hypothesis import strategies as st

_element = st.one_of(
    st.none(),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
)
_vector = st.one_of(
    st.none(),
    st.lists(_element, min_size=0, max_size=5),
)
_rows = st.lists(_vector, min_size=0, max_size=30)


def _valid(v, dim):
    import math

    return (
        v is not None
        and len(v) == dim
        and all(x is not None and math.isfinite(x) for x in v)
    )


@settings(max_examples=200, deadline=None)
@given(_rows, st.integers(1, 5))
def test_clean_block_mask_matches_reference_predicate(rows, dim):
    """For ANY batch composition, decode's survivors are exactly the rows
    with a finite dim-length vector, in order — no crash, no silent
    admission, no over-dropping. NULL elements ride as Arrow nulls, and
    the sliced case catches an offset bug in ``flatten``."""
    arr = _vecs(rows)
    for start in (0, 3):
        mask, M = CV.decode(arr.slice(start), dim)
        kept = [v for v in rows[start:] if _valid(v, dim)]
        assert mask.tolist() == [_valid(v, dim) for v in rows[start:]]
        if kept:
            assert M.shape == (len(kept), dim)
            assert M.tolist() == kept
        else:
            assert M is None
