"""The LITERAL-expression PQ twin: encode, ADC top-k and IVF-PQ top-k with
every codeword inlined into the plan as array literals and the argmin as
nested ``array_min(struct(round(d, 6), code))`` expressions.

This is the independent JVM-expression reference the Arrow kernel
(``operators/pq.py``: :func:`pq_encode`, :func:`pq_adc_topk`,
:func:`ivf_pq_topk`) is pinned bit-identical against in tests/test_ann.py.
It is not a library path: even at the small oracle knobs (m=4, ksub=16)
the inlined sqdist aggregates cost ~3.8 s of driver-side ANALYSIS per
query, a fixed planning cost that dwarfs execution on anything but huge
inputs — measured r13, which is why the library runs the Arrow kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_vectordb_spark.functions import vector as V
from auto_vectordb_spark.operators.cluster import sqdist
from auto_vectordb_spark.operators.pq import _Q, _empty_codes, _empty_topk
from auto_vectordb_spark.operators.relational import top_k_per_group


def _sub_argmin(subvec, codebook: list[list[float]], round_decimals: int = 6):
    """struct(d, code) of the nearest codeword for one subvector column."""
    cands = F.array(
        *[
            F.struct(
                F.round(
                    sqdist(subvec, F.array(*[F.lit(float(x)) for x in c])), round_decimals
                ).alias("d"),
                F.lit(ci).alias("code"),
            )
            for ci, c in enumerate(codebook)
        ]
    )
    return F.array_min(cands)


def pq_encode_exprs(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — map-only encode against literal codebook
    expressions, inside whole-stage codegen."""
    if not codebooks:
        return _empty_codes(vectors, id_col)
    v = V.as_double_array(F.col(vec_col))
    sub = len(codebooks[0][0])
    codes = F.array(
        *[
            _sub_argmin(F.slice(v, j * sub + 1, sub), cb)["code"]
            for j, cb in enumerate(codebooks)
        ]
    )
    return vectors.select(F.col(id_col), codes.alias("codes"))


def _query_dtables(query_vec: str, codebooks: list[list[list[float]]]):
    """Per-query ADC distance-table columns (__dt0..__dtm-1): quantized int64
    sqdist of each query subvector against every codeword — tiny literals,
    evaluated once per query row."""
    qv = V.as_double_array(F.col(query_vec))
    sub = len(codebooks[0][0])
    return [
        F.array(
            *[
                F.round(
                    sqdist(F.slice(qv, j * sub + 1, sub), F.array(*[F.lit(float(x)) for x in c]))
                    * _Q
                ).cast("long")
                for c in cb
            ]
        ).alias(f"__dt{j}")
        for j, cb in enumerate(codebooks)
    ]


def _adc_score(m: int):
    """Σ_j dtable_j[code_j] — exact int64 ADC score expression."""
    score_q = None
    for j in range(m):
        term = F.element_at(F.col(f"__dt{j}"), F.col("codes")[j] + 1)
        score_q = term if score_q is None else score_q + term
    return score_q


def pq_adc_topk_exprs(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, adist) — asymmetric-distance top-k with literal
    distance-table expressions: the query side gains m literal
    distance-table columns, the broadcast crossJoin scores each corpus row
    with m element_at lookups + an exact int sum."""
    if not codebooks:
        return _empty_topk(queries, codes, corpus_id)
    q = F.broadcast(queries.select(F.col("query_id"), *_query_dtables(query_vec, codebooks)))
    scored = q.crossJoin(codes).select(
        "query_id",
        F.col(corpus_id),
        (_adc_score(len(codebooks)).cast("double") / _Q).alias("adist"),
    )
    return top_k_per_group(
        scored, ["query_id"], "adist", k, ascending=True, tie_break=corpus_id
    )


def ivf_pq_topk_exprs(
    queries: DataFrame,
    codes_indexed: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """IVF-PQ with literal distance tables: the same L2 cell probing as
    :func:`ivf_pq_topk`, then ADC scoring of the codes in the probed cells
    through the literal dtable columns."""
    if not codebooks:
        return _empty_topk(queries, codes_indexed, corpus_id)
    qv = V.as_double_array(F.col(query_vec))
    cscored = queries.select(F.col("query_id"), qv.alias("__qv")).crossJoin(
        F.broadcast(
            centroids.select(
                F.col("centroid_id"), V.as_double_array(F.col("centroid")).alias("__cv")
            )
        )
    ).select(
        "query_id",
        "centroid_id",
        F.round(sqdist(F.col("__qv"), F.col("__cv")), 6).alias("__cd"),
    )
    probes = top_k_per_group(
        cscored, ["query_id"], "__cd", nprobe, ascending=True, tie_break="centroid_id"
    ).select("query_id", "centroid_id")
    q = queries.select(F.col("query_id"), *_query_dtables(query_vec, codebooks))
    cand = F.broadcast(probes.join(q, "query_id")).join(codes_indexed, "centroid_id")
    scored = cand.select(
        "query_id",
        F.col(corpus_id),
        (_adc_score(len(codebooks)).cast("double") / _Q).alias("adist"),
    )
    return top_k_per_group(
        scored, ["query_id"], "adist", k, ascending=True, tie_break=corpus_id
    )
