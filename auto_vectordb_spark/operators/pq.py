"""Product quantization (PQ) — the compressed-index tier between int8
(4× smaller, operators/knn.py) and IVF partitioning: vectors become ``m``
codebook ids (here 4 bytes/vector vs 256 for float32 d=64), and search
scores against the codes with an asymmetric distance table (ADC), never
touching the original floats (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search").

The reference stores raw float lists in a TEXT column
(backend/utils/schema.py:13) and lets Elasticsearch own compression; in a
Spark-native engine the code table IS the index — at 100 TB of embeddings
the PQ codes are ~1.5 % of the bytes, small enough to cache in executor
memory fleet-wide.

Scale design
------------
* **Training / encoding**: codebooks are tiny (m · ksub · d/m doubles) and
  ship inside an Arrow/NumPy kernel → encoding is a map-only scan (same
  zero-join shape as cluster.assign_centroids). Deterministic codebooks
  here are "subvectors of the ksub lowest-id rows" — the standard
  seeded-sample baseline; :func:`pq_codebooks_kmeans` upgrades them with
  per-subspace MLlib KMeans without changing any downstream shape. THE
  PRODUCTION DEFAULT is the trained path at m=16/ksub=256 (recall@10 0.82
  vs the seed baseline's 0.31 — RECALL.md; gated in tests/test_ann.py):
  use the seed codebooks only as the oracle-attestable twin.
* **Search (ADC)**: the per-query distance table (m · ksub doubles) is
  broadcast; scoring a corpus row is ``Σ_j dtable[j][code_j]`` — array
  element_at lookups, no float math over the original vectors, one scan,
  top-k per query via TakeOrderedAndProject.
* Sub-distances are rounded (1e-6) and summed as exact int64 so ADC scores
  are reduction-order-independent (parity rule 1) and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cleanvec as CV
from ..functions import vector as V
from ..session import materialize
from .cluster import sqdist
from .relational import top_k_per_group

_Q = 1_000_000


def pq_codebooks_seed(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """codebooks[j][c] = centroid c of subspace j, taken from the ``ksub``
    lowest-id vectors (deterministic seeded-sample training — the oracle
    twin; collect is ksub rows, tiny by construction).

    .. warning:: BASELINE KNOBS, NOT A PRODUCTION INDEX. Seed codebooks at
       the default m=4/ksub=16 measure recall@10 ≈ 0.31 on isotropic 64-d
       data (RECALL.md) — they exist because they are deterministic and
       SQL-expressible, i.e. cross-engine attestable. Ship
       :func:`pq_codebooks_kmeans` at m=16/ksub=256 instead (recall@10
       ≈ 0.82, gated >= 0.8 in
       tests/test_ann.py::test_trained_pq_recall_gate; registry entries
       knn_pq_adc_trained / knn_ivf_pq_trained)."""
    # train on the ksub lowest-id VALID vectors: a NULL / zero-length /
    # NULL-element embedding among the lowest ids fails the row, not the
    # training run (len(None)/slice-of-None were driver-side TypeErrors),
    # and a ragged one must not yield short/empty codewords — valid_vec
    # pins the sample to the corpus's modal dimensionality
    dim = CV.probe_dim(vectors, vec_col)
    rows = (
        vectors.where(CV.valid_vec(vec_col, dim) if dim else F.lit(False))
        .orderBy(F.col(id_col))
        .limit(ksub)
        .select(V.as_double_array(F.col(vec_col)).alias("v"))
        .collect()
    )
    if not rows:
        # empty training slice: no codebooks — every consumer below
        # degrades to an empty encode/search result instead of crashing
        return []
    d = len(rows[0]["v"])
    sub = d // m
    return [
        [list(r["v"][j * sub : (j + 1) * sub]) for r in rows]
        for j in range(m)
    ]


def pq_codebooks_kmeans(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Production codebooks: per-subspace MLlib KMeans (optionally on a
    sample — PQ training needs only a representative subset). Same return
    shape as :func:`pq_codebooks_seed`; everything downstream is unchanged."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = vectors if sample_fraction is None else vectors.sample(sample_fraction, seed=seed)
    # NULL / zero-length / NULL-element / ragged vectors fail the row, not
    # the KMeans fit (MLlib dies on nulls; a ragged row would skew slices)
    dim = CV.probe_dim(df, vec_col)
    df = df.where(CV.valid_vec(vec_col, dim) if dim else F.lit(False))
    # MLlib Vectors reject NaN/Inf outright ("values MUST NOT be NaN or
    # Infinity"), and an overflow-magnitude row (|x| > ~1e5) would drag a
    # cluster center outside the quantized-int64 ADC domain (sqdist * 1e6
    # must fit a BIGINT: |diff| <= ~3.8e5 per element at d=64) — either
    # way the corrupted embedding fails the ROW here, not the fit, and
    # such rows still ENCODE fine (encode argmins rounded doubles, no
    # int64 cast)
    df = df.where(
        ~F.exists(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.isnan(x) | (F.abs(x) > F.lit(1.0e5)),
        )
    )
    v = V.as_double_array(F.col(vec_col))
    # The validated-vector projection feeds first(), count() AND every
    # per-subspace KMeans fit (each fit = many iterative jobs): pin it
    # once instead of re-scanning + re-validating the source per action
    # (opt guide §2.4/§5 — reused AND expensive to recompute; released
    # before return). Partitioning is untouched so the fits see the exact
    # same data layout (and therefore centers) as the sequential path.
    with materialize(df.select(v.alias("v")), "memory") as cached:
        row = cached.first()
        if row is None:
            return []  # empty training slice — same degenerate contract as seed
        # k must not exceed the training-row count (MLlib fit aborts on a
        # 1-row slice at k=256): cap like every PQ trainer does on tiny
        # slices — the codebook is smaller, every downstream shape unchanged.
        # MLlib further requires k >= 2, so a single-row slice IS its own
        # codebook (one codeword per subspace — exact quantization).
        d = len(row["v"])
        sub = d // m
        n = cached.count()
        if n < 2:
            return [
                [[float(x) for x in row["v"][j * sub : (j + 1) * sub]]]
                for j in range(m)
            ]
        ksub = min(ksub, n)

        # The m fits are independent jobs over the same cached slice source;
        # overlapping a few of them back-fills executor cores idled by each
        # fit's sequential iterations (opt guide §2.6). Results are
        # order-preserved by index and each fit keeps its own estimator +
        # the same (seed, data, partitioning), so centers are unchanged.
        def fit(j: int) -> list[list[float]]:
            feats = cached.select(
                array_to_vector(F.slice(F.col("v"), j * sub + 1, sub)).alias("__f")
            )
            model = KMeans(k=ksub, seed=seed, featuresCol="__f").fit(feats)
            return [[float(x) for x in c] for c in model.clusterCenters()]

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, m)) as pool:
            return list(pool.map(fit, range(m)))


def _empty_codes(vectors: DataFrame, id_col: str) -> DataFrame:
    """Empty (id, codes) frame with the normal encode schema — the
    degenerate result when the codebooks were trained on an empty slice."""
    return vectors.select(
        F.col(id_col), F.lit(None).cast("array<int>").alias("codes")
    ).where(F.lit(False))


def _empty_topk(queries: DataFrame, codes: DataFrame, corpus_id: str) -> DataFrame:
    """Empty (query_id, corpus_id, adist) frame with the normal ADC top-k
    schema — searching with no codebooks returns no neighbors."""
    return (
        queries.crossJoin(codes)
        .select(
            F.col("query_id"),
            F.col(corpus_id),
            F.lit(None).cast("double").alias("adist"),
        )
        .where(F.lit(False))
    )


def _codebook_df(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """One-row DataFrame carrying the codebooks as DATA (``__cb``:
    array<array<array<double>>>) for the ADC distance tables."""
    return spark.createDataFrame(
        [(codebooks,)], "__cb array<array<array<double>>>"
    )


def _round6_jvm(x: float) -> float:
    """Spark's ``round(double, 6)`` bit-exactly: the JVM evaluates
    ``BigDecimal.valueOf(d).setScale(6, HALF_UP)`` where ``valueOf`` parses
    ``Double.toString(d)`` — the shortest decimal that round-trips, which
    is what Python's ``repr`` produces too. Only called on the rare rows
    whose top candidates tie within the 1e-6 rounding window. The explicit
    wide context matches BigDecimal's arbitrary precision: an
    overflow-magnitude embedding (1e30 elements -> ~1e60 distances, every
    candidate bit-equal below the double's ulp) lands here, and the
    default 28-digit context raised InvalidOperation on quantize —
    the r13 dirty-mirror finding."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP, context=Context(prec=340)
        )
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — map-only encode with a vectorized
    Arrow/NumPy argmin kernel.

    The codebook ships inside an Arrow ``mapInArrow`` kernel (a few
    hundred KB in the task closure) and the m x ksub distance argmin runs
    as NumPy float64 batch matrix ops (opt guide §4.2: hand whole batches
    to vectorized native code). One map-only scan of the vectors — the
    correct 100 TB shape; the corpus never moves.

    Measured dead ends (don't retry): inlining every codeword into the
    plan as literal expressions costs ~3.8 s of driver-side ANALYSIS per
    query even at m=4/ksub=16 and is beyond codegen at m=16/ksub=256
    (r13); carrying the codebook as a broadcast one-row table with the
    argmin in row-local higher-order lambdas evaluates INTERPRETED — the
    dominant cost of the trained-PQ entries through r12 (3.2 s -> 0.55 s
    warm at sf0.1 on this kernel).

    Bit-identical to the literal-expression twin in tests/pq_literal.py
    (test-pinned, tests/test_ann.py): distances accumulate in the same
    sequential float64 order as ``cluster.sqdist``, argmin resolves
    rounded-1e-6 ties to the lowest code exactly like the
    ``array_min(struct(round(d,6), code))`` expression (near-ties within
    the rounding window fall back to the JVM's exact HALF_UP semantics via
    :func:`_round6_jvm`), and malformed rows degrade identically: a NULL /
    short / NULL-element / NaN slice yields code 0 for that subspace
    because every candidate distance is equally undefined (NULL elements
    arrive as NaN through Arrow — same all-undefined tie, same code 0).
    """
    if not codebooks:
        return _empty_codes(vectors, id_col)
    import numpy as np

    from .dedup import fan_out_small_scan

    m = len(codebooks)
    sub = len(codebooks[0][0])
    d_need = m * sub
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    # The per-row argmin is the one stage in this module heavy enough that
    # an unsplittable single-row-group scan serializing it on one core
    # dominates the entry: conditionally fan the input first (no-op on a
    # well-partitioned 100 TB scan — opt guide §2.5 input skew).
    src = fan_out_small_scan(vectors).select(
        F.col(id_col), V.as_double_array(F.col(vec_col)).alias("__v")
    )
    id_type = src.schema[id_col].dataType.simpleString()

    def _codes_matrix(X: "np.ndarray") -> "np.ndarray":
        """(n, m) int32 codes for complete rows (n, d_need) — NaN-safe."""
        n = X.shape[0]
        out = np.zeros((n, m), dtype=np.int32)
        for j, cb in enumerate(cbs):
            ksub = cb.shape[0]
            D = np.zeros((n, ksub), dtype=np.float64)
            base = j * sub
            # EXACT sequential accumulation — same IEEE754 op order as the
            # interpreted aggregate(zip_with(...)) the JVM twin evaluates,
            # so near-tie detection below sees the same doubles.
            for i in range(sub):
                diff = X[:, base + i, None] - cb[None, :, i]
                D += diff * diff
            # NaN distances lose to any finite one in the JVM struct-min
            # (NaN sorts largest); all-NaN / all-inf rows tie down to code
            # 0. Mapping NaN -> +inf reproduces both.
            Dc = np.where(np.isnan(D), np.inf, D)
            amin = np.argmin(Dc, axis=1)
            dmin = Dc[np.arange(n), amin]
            out[:, j] = amin
            # rows whose runner-up sits within the 1e-6 rounding window may
            # tie AFTER round(d, 6): resolve those (rare) rows with the
            # JVM's exact HALF_UP rounding and the lowest-code tie-break.
            finite = np.isfinite(dmin)
            out[~finite, j] = 0  # non-finite min: every candidate ties
            if finite.any():
                near = (Dc <= (dmin + 1.01e-6)[:, None]).sum(axis=1) > 1
                for r in np.nonzero(near & finite)[0]:
                    cands = np.nonzero(Dc[r] <= dmin[r] + 1.01e-6)[0]
                    out[r, j] = min(
                        cands, key=lambda c: (_round6_jvm(D[r, c]), c)
                    )
        return out

    def encode(batches):
        import pyarrow as pa

        codes_type = pa.list_(pa.int32())
        for batch in batches:
            ids = batch.column(0)
            va = batch.column(1)
            n = len(va)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=codes_type)],
                    names=[id_col, "codes"],
                )
                continue
            codes = np.zeros((n, m), dtype=np.int32)
            # NULL elements arrive as NaN: row-degradation is then
            # identical to a NaN element (all candidates undefined ->
            # code 0 for that subspace), matching the JVM twin.
            rows = va.to_pylist()
            lens = np.array([0 if r is None else len(r) for r in rows])
            full = lens >= d_need
            if full.any():
                X = np.array(
                    [rows[i][:d_need] for i in np.nonzero(full)[0]],
                    dtype=np.float64,
                )
                codes[full] = _codes_matrix(X)
            # short rows: subspace j is complete only when the row covers
            # (j+1)*sub elements; incomplete slices zip against NULL in
            # the JVM twin -> every candidate NULL -> code 0.
            for r in np.nonzero(~full & (lens > 0))[0]:
                row = np.asarray(rows[r], dtype=np.float64)
                for j in range(m):
                    if (j + 1) * sub <= lens[r]:
                        codes[r, j] = _codes_matrix(
                            np.concatenate(
                                [
                                    np.zeros((j * sub,)),
                                    row[j * sub : (j + 1) * sub],
                                    np.zeros((d_need - (j + 1) * sub,)),
                                ]
                            )[None, :]
                        )[0, j]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(codes.tolist(), type=codes_type)],
                names=[id_col, "codes"],
            )

    return src.mapInArrow(encode, schema=f"{id_col} {id_type}, codes array<int>")


def _query_dtables(
    queries: DataFrame, query_vec: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """(query_id, __dt) — per-query ADC distance tables: quantized int64
    sqdist of each query subvector against every codeword of the
    broadcast codebook table, computed once per query row."""
    qv = V.as_double_array(F.col(query_vec))
    sub = len(codebooks[0][0])
    dtables = F.transform(
        F.col("__cb"),
        lambda book, j: F.transform(
            book,
            lambda cw: F.round(
                sqdist(F.slice(qv, j * F.lit(sub) + 1, sub), cw) * _Q
            ).cast("long"),
        ),
    )
    cb = _codebook_df(queries.sparkSession, codebooks)
    return queries.crossJoin(F.broadcast(cb)).select(
        F.col("query_id"), dtables.alias("__dt")
    )


def _adc_dist(m: int):
    """Σ_j dtable[j][code_j] as an exact int64 sum, then rescaled to the
    double ``adist`` (reduction-order-independent, parity rule 1)."""
    score_q = None
    for j in range(m):
        term = F.element_at(F.col("__dt")[j], F.col("codes")[j] + 1)
        score_q = term if score_q is None else score_q + term
    return (score_q.cast("double") / _Q).alias("adist")


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, adist) — asymmetric-distance (ADC) top-k.

    The per-query dtable (m x ksub quantized int64 sub-distances) is
    computed ONCE per query row from the broadcast codebook table; the
    broadcast crossJoin then scores each corpus row with m element_at
    lookups + an exact int sum. The code table is the ONLY corpus-side
    input — at scale ~1.5 % of the float bytes — and never shuffles.
    """
    if not codebooks:
        return _empty_topk(queries, codes, corpus_id)
    q = F.broadcast(_query_dtables(queries, query_vec, codebooks))
    scored = q.crossJoin(codes).select(
        "query_id", F.col(corpus_id), _adc_dist(len(codebooks))
    )
    return top_k_per_group(
        scored, ["query_id"], "adist", k, ascending=True, tie_break=corpus_id
    )


def ivf_pq_topk(
    queries: DataFrame,
    codes_indexed: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """IVF-PQ: coarse cell pruning + compressed ADC scoring — the standard
    billion-scale ANN tier (Jégou et al. 2011 §V, IVFADC).

    ``codes_indexed``: (vec_id, centroid_id, codes) — :func:`pq_encode`
    joined with knn.ivf_build's cell assignment (at scale: written
    ``partitionBy("centroid_id")`` so the scan prunes partitions).

    Per query: pick ``nprobe`` nearest cells on the broadcast centroid
    table **by L2 distance — the same metric ADC approximates** (probing by
    cosine against an L2 scorer mis-ranks cells unless vectors are
    normalized; measured recall@10 0.56 → 0.84 at nprobe=3 on the 5
    seed-set test queries — out-of-seed absolute recall on the isotropic
    fixtures is far lower by construction, see RECALL.md — on the test
    corpus), then ADC-score ONLY codes in those cells — the scan fraction
    is ~nprobe/n_cells of an already ~64× compressed table. Join shape:
    broadcast(probes × query dtables) ⋈ codes on centroid_id; the code
    table is never shuffled.
    """
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
    q = _query_dtables(queries, query_vec, codebooks)
    cand = F.broadcast(probes.join(q, "query_id")).join(codes_indexed, "centroid_id")
    scored = cand.select("query_id", F.col(corpus_id), _adc_dist(len(codebooks)))
    return top_k_per_group(
        scored, ["query_id"], "adist", k, ascending=True, tie_break=corpus_id
    )
