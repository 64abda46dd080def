"""Vector kNN search (reference V2, /root/reference/backend/process/
elasticsearch_index.py:261-277 — ES dense_vector knn clause).

Spark has no native ANN, so this module provides the standard three-tier
design for batch vector retrieval at scale:

1. :func:`knn_exact` — broadcast the (small) query set against the corpus and
   score with JVM-side expressions. This is the correctness oracle and, at
   100 TB, still the right plan when the query batch is small: the corpus is
   scanned once, never shuffled, and the per-query top-k is a
   TakeOrderedAndProject per query id.
2. :func:`ivf_build` / :func:`ivf_search` — IVF (inverted-file) coarse
   quantization: corpus rows are assigned to their nearest centroid and the
   bucket table is written partitioned by centroid id; queries probe only the
   ``nprobe`` nearest centroids → partition pruning turns a full scan into a
   few-percent scan. Mirrors ES's ``num_candidates`` recall/latency knob.
3. :func:`lsh_build` / :func:`lsh_search` — MLlib BucketedRandomProjectionLSH
   ("bulk index build" per BASELINE.json): hash tables as DataFrames.

All scoring math in double; ties broken (score DESC, id ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cleanvec as CV
from ..functions import vector as V
from .dedup import fan_out_small_scan
from .relational import top_k_per_group


def score_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Broadcast crossJoin of queries × corpus with a similarity column.

    The query side is broadcast (it's the small side by construction), so the
    corpus — the 100 TB side — is scanned in place with zero shuffle.

    The corpus side is conditionally fanned to the session's parallelism
    first (dedup.fan_out_small_scan): the per-pair dot product runs through
    Spark's interpreted higher-order array lambdas (~µs per element), so an
    unsplittable single-row-group scan serializes queries × corpus × dim
    lambda evaluations onto one core. A well-partitioned corpus (the 100 TB
    case) is untouched — the scan-in-place/zero-shuffle contract holds.
    """
    q = F.broadcast(
        queries.select(
            F.col("query_id"),
            V.as_double_array(F.col(query_vec)).alias("__qv"),
            V.norm(F.col(query_vec)).alias("__qn"),
        )
    )
    # Pre-cast + pre-norm the corpus side so the pair stage is one dot product
    # per (query, row) instead of three array reductions.
    corpus = fan_out_small_scan(corpus)
    c = corpus.withColumn("__cv", V.as_double_array(F.col(corpus_vec))).withColumn(
        "__cn", V.norm(F.col(corpus_vec))
    )
    if metric == "cosine":
        sim = V.cosine_with_norms(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"))
    else:
        sim = V.dot(F.col("__qv"), F.col("__cv"))
    return q.crossJoin(c).withColumn("score", sim).drop("__qv", "__qn", "__cv", "__cn")


def knn_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    metric: str = "cosine",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_decimals: int | None = None,
) -> DataFrame:
    """Exact top-k per query: the V2 oracle.

    ``queries`` needs columns (query_id, <query_vec>); result has
    (query_id, <corpus_id>, score). ``round_decimals`` rounds scores BEFORE
    ranking — with the id tie-break this makes the top-k cut deterministic
    across engines (oracle comparability).
    """
    scored = score_pairs(queries, corpus, query_vec, corpus_vec, metric)
    if round_decimals is not None:
        scored = scored.withColumn("score", F.round("score", round_decimals))
    # row-fails-not-job: a NULL query or corpus vector yields a NULL score;
    # without this filter such pairs would be tie-break-RANKED into the
    # top-k (a NULL-vector query retrieves k unscored ids) and downstream
    # joins on the retrieved ids fail loudly. The isnan guard covers the
    # dot metric: cosine maps NaN inputs to NULL (vector.nan_to_null) but
    # a raw dot of a NaN vector stays NaN, and Spark orders NaN as the
    # LARGEST double — one NaN embedding would win EVERY desc top-k
    # (silent retrieval corruption). No-op on clean data.
    return top_k_per_group(
        scored.select("query_id", corpus_id, "score").where(
            F.col("score").isNotNull() & ~F.isnan("score")
        ),
        ["query_id"],
        "score",
        k,
        tie_break=corpus_id,
    )


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    label_col: str = "label",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_decimals: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the top-k most-similar corpus vectors whose ``label_col``
    DIFFERS from the query's — the "similar but wrong" examples that make
    the strongest negatives (the standard DPR/SimCSE recipe; the reference
    has no trainer, so this extends its V2 search surface toward the
    training-data pipeline this engine targets).

    ``queries`` needs (query_id, <query_vec>, <label_col>). The query's own
    row excludes itself for free (same label). Result: (query_id,
    <corpus_id>, <label_col>, score) — the negative's label rides along so
    downstream samplers can stratify by confusing class.

    Scale: identical shape to :func:`knn_exact` — queries broadcast, the
    100 TB corpus scanned in place with zero shuffle, the label predicate
    prunes before ranking, one (query_id)-key shuffle for the windowed
    top-k. ``round_decimals`` rounds scores BEFORE ranking (id tie-break)
    for cross-engine-deterministic cuts.
    """
    q = F.broadcast(
        queries.select(
            F.col("query_id"),
            F.col(label_col).alias("__qlabel"),
            V.as_double_array(F.col(query_vec)).alias("__qv"),
            V.norm(F.col(query_vec)).alias("__qn"),
        )
    )
    c = fan_out_small_scan(corpus).withColumn(
        "__cv", V.as_double_array(F.col(corpus_vec))
    ).withColumn(
        "__cn", V.norm(F.col(corpus_vec))
    )
    sim = V.cosine_with_norms(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"))
    scored = (
        q.crossJoin(c)
        .filter(F.col(label_col) != F.col("__qlabel"))
        .withColumn("score", sim)
        .select("query_id", corpus_id, label_col, "score")
    )
    if round_decimals is not None:
        scored = scored.withColumn("score", F.round("score", round_decimals))
    return top_k_per_group(scored, ["query_id"], "score", k, tie_break=corpus_id)


def recall_at_k(
    approx: DataFrame, exact: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Retrieval-quality evaluation as a first-class operator: per query,
    the overlap between an approximate tier's hits and the exact top-k —
    recall@k computed IN the engine, not in a test harness (tests/
    test_ann.py and tools/recall_report.py wrap this same algebra; making
    it an operator lets pipelines gate an index rebuild on measured recall
    before swapping it live).

    Inputs are any two ranked result sets with (query_id, <id_col>).
    Output: (query_id, n_overlap, n_exact, recall) where recall is an
    unrounded int/int division — bit-exact cross-engine.

    Scale: both inputs are already reduced (k rows per query); one
    equi-join on (query_id, id) and a per-query count — nothing touches
    corpus scale.
    """
    a = approx.select("query_id", id_col)
    e = exact.select("query_id", id_col)
    hits = e.join(a, ["query_id", id_col], "left_semi")
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("n_overlap"))
    n_ex = e.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        n_ex.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            "n_exact",
        )
        .withColumn(
            "recall",
            F.col("n_overlap").cast("double") / F.col("n_exact").cast("double"),
        )
    )


def mine_bitext_margin(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 1.0,
) -> DataFrame:
    """Margin-based bitext candidate mining (Artetxe & Schwenk 2019 ratio
    margin, the LASER/CCMatrix recipe): a (src, tgt) pair is a parallel-text
    candidate when its cosine stands out RELATIVE to each side's own
    nearest-neighbor neighborhood —

        margin(x, y) = cos(x, y) / ((avgₖ cos(x, NNₖ(x→tgt))
                                     + avgₖ cos(y, NNₖ(y→src))) / 2)

    computed over the forward top-k pairs and kept when margin > threshold
    (1.0 = "better than your average neighbor"). Hubness-robust where a raw
    cosine cut is not.

    Cross-engine exactness: cosines are rounded to 6 dp before ranking
    (rule 2), then re-quantized to int64 (exact — they sit on the 1e-6
    grid), so neighborhood sums are exact integers and

        margin = 2·cos_q·an·bn / (asum_q·bn + bsum_q·an)

    is ONE division of two exact int64s — bit-identical everywhere.
    Output: (src_id, tgt_id, cos_q, margin).

    Scale: two :func:`knn_exact` passes (each: broadcast queries, in-place
    corpus scan, per-query top-k) + two k-row-per-id aggregates + two
    equi-joins on already-reduced tables. Nothing beyond the knn passes
    touches corpus scale; for billion-pair mining swap the exact passes for
    the IVF tier — the margin algebra is retrieval-agnostic.
    """
    fq = src.select(F.col(id_col).alias("query_id"), vec_col)
    bq = tgt.select(F.col(id_col).alias("query_id"), vec_col)
    fwd = knn_exact(fq, tgt, k=k, corpus_id=id_col, round_decimals=6)
    bwd = knn_exact(bq, src, k=k, corpus_id=id_col, round_decimals=6)
    q6 = F.round(F.col("score") * F.lit(1_000_000)).try_cast("long")
    a_src = fwd.groupBy("query_id").agg(
        F.sum(q6).alias("asum_q"), F.count("*").alias("an")
    )
    a_tgt = bwd.groupBy("query_id").agg(
        F.sum(q6).alias("bsum_q"), F.count("*").alias("bn")
    )
    pairs = (
        fwd.select(
            F.col("query_id").alias("src_id"),
            F.col(id_col).alias("tgt_id"),
            q6.alias("cos_q"),
        )
        .join(a_src.withColumnRenamed("query_id", "src_id"), "src_id")
        .join(a_tgt.withColumnRenamed("query_id", "tgt_id"), "tgt_id")
    )
    num = F.lit(2) * F.col("cos_q") * F.col("an") * F.col("bn")
    den = F.col("asum_q") * F.col("bn") + F.col("bsum_q") * F.col("an")
    return (
        pairs.withColumn("margin", num.cast("double") / den.cast("double"))
        .filter(F.col("margin") > threshold)
        .select("src_id", "tgt_id", "cos_q", "margin")
    )


def knn_exact_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_decimals: int | None = None,
    max_queries: int = 65536,
) -> DataFrame:
    """Exact cosine top-k via an Arrow/NumPy BLAS kernel (the throughput path).

    BOUNDED-QUERY CONTRACT: the query side is collected to the driver and
    broadcast, so it must be a bounded working set — ``max_queries``
    (default 64k; at d=1024 float64 that is ~0.5 GB broadcast) fails fast
    past the bound rather than OOMing the driver. For unbounded query sets
    (corpus-vs-corpus scoring) use the DataFrame-native paths instead:
    :func:`knn_exact` (expression kernel, both sides stay distributed) or
    ``dedup.embedding_neardup_pairs_blas_bucketed`` (sign-LSH bucketed
    per-partition GEMM).

    The query matrix (small) is collected, L2-normalized, and shipped with
    the kernel closure (PySpark's managed command broadcast — see the
    inline note); each
    corpus partition computes one ``block @ Q.T`` matmul inside mapInArrow
    and emits only its LOCAL per-query top-k; a final windowed top-k merges
    partitions. At 100 TB the corpus is scanned once, nothing but (parts × k
    × queries) candidate rows shuffle. ~100× the FLOP rate of the row-at-a-
    time expression kernel.

    ``round_decimals`` makes the result oracle-comparable the same way
    :func:`knn_exact` does: scores are rounded BEFORE every ranking step —
    inside the kernel the local top-k sorts (rounded score DESC, id ASC)
    via lexsort instead of argpartition, and the global merge ranks the
    rounded scores with the id tie-break — so the top-k cut is deterministic
    and identical to the expression kernel whenever no true score sits
    within BLAS reduction-order noise (~1e-15) of a rounding boundary
    (measured ≥8.8e-5 away on the sf0.01 fixtures; see plans/parity.py).
    Without it, last-ulp score differences vs :func:`knn_exact` are
    possible (BLAS reduction order).
    """
    import numpy as np
    import pyarrow as pa

    # limit(max+1) bounds the collect itself (no separate count job); one
    # extra row is enough to prove the bound was crossed
    q = (
        queries.select("query_id", query_vec)
        .where(F.col("query_id").isNotNull())
        .limit(max_queries + 1)
        .toArrow()
    )
    if q.num_rows > max_queries:
        raise ValueError(
            f"knn_exact_blas collects the query side to the driver; got more "
            f"than max_queries={max_queries} rows. Use knn_exact or the "
            f"bucketed BLAS dedup path for unbounded query sets."
        )
    out_schema = f"query_id long, {corpus_id} long, score double"
    # row-fails-not-job: NULL / zero-length / ragged / non-finite query
    # vectors drop (modal dim of the valid rows defines the working
    # dimensionality); an empty or all-invalid query side returns the
    # schema-correct empty frame
    mask, Q = CV.decode(q.column(query_vec))
    if Q is None:
        return queries.sparkSession.createDataFrame([], out_schema)
    qids = q.column("query_id").to_numpy()[mask].astype(np.int64)
    Qn = Q / V.safe_row_norms(Q)
    # (qids, Qn) ride the pickled kernel closure instead of an explicit
    # sc.broadcast: PySpark ships large task commands through its own
    # managed TorrentBroadcast (rdd._prepare_for_python_RDD), whose
    # lifecycle is tied to the plan and reclaimed by the ContextCleaner —
    # an explicit handle here could never be destroy()ed without breaking
    # the lazy-DataFrame contract and leaked across bench repeats.

    def part(batches):
        ids_b, Qn_b = qids, Qn
        for batch in batches:
            # same row contract on the corpus side: a malformed corpus row
            # contributes no candidates, the partition task lives
            mask, C = CV.decode(batch.column(corpus_vec), Qn_b.shape[1])
            if C is None:
                continue
            Cn = C / V.safe_row_norms(C)
            S = Cn @ Qn_b.T  # (rows, nq)
            if round_decimals is not None:
                S = np.round(S, round_decimals)
            kk = min(k, S.shape[0])
            cids = batch.column(corpus_id).to_numpy()[mask].astype(np.int64)
            if round_decimals is not None:
                # deterministic local cut: (score DESC, id ASC) per query
                top = np.empty((kk, S.shape[1]), dtype=np.int64)
                for j in range(S.shape[1]):
                    top[:, j] = np.lexsort((cids, -S[:, j]))[:kk]
            else:
                # local top-k per query: argpartition (fast path)
                top = np.argpartition(-S, kk - 1, axis=0)[:kk]
            # query-major rows: (ids_b[j], cids[top[r, j]], S[top[r, j], j])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids_b, kk)),
                    pa.array(cids[top.T.ravel()]),
                    pa.array(S[top, np.arange(S.shape[1])].T.ravel()),
                ],
                names=["query_id", corpus_id, "score"],
            )

    # The JVM-side NULL-id filter is the only place NULL ids drop: the
    # kernel reads the id column as plain int64
    local = (
        corpus.select(corpus_id, corpus_vec)
        .where(F.col(corpus_id).isNotNull())
        .mapInArrow(part, schema=out_schema)
    )
    return top_k_per_group(local, ["query_id"], "score", k, tie_break=corpus_id)


# --- IVF: centroid-bucketed approximate search ------------------------------


def ivf_build(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Assign every corpus row to its nearest centroid (the "index build").

    ``centroids``: (centroid_id, centroid) — typically k-means output (MLlib
    KMeans at scale; any deterministic assignment works). Centroids are tiny →
    broadcast; assignment is one corpus scan. At scale the result should be
    written ``partitionBy("centroid_id")`` so search prunes partitions.
    """
    c = F.broadcast(
        centroids.select(F.col("centroid_id"), F.col("centroid").alias("__cv"))
    )
    scored = corpus.crossJoin(c).withColumn(
        "__csim", V.cosine(F.col(vec_col), F.col("__cv"))
    )
    best = top_k_per_group(scored, [corpus_id], "__csim", 1, tie_break="centroid_id")
    return best.drop("__csim", "__cv")


def ivf_search(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroids per query, exact-score inside.

    recall/latency knob = nprobe (≈ ES num_candidates). The semi-join on
    centroid_id prunes the corpus scan to probed buckets only.
    """
    probes = knn_exact(
        queries,
        centroids.select(F.col("centroid_id"), F.col("centroid").alias("embedding")),
        k=nprobe,
        corpus_id="centroid_id",
        metric=metric,
    ).select("query_id", "centroid_id")
    qv = queries.select("query_id", F.col(vec_col).alias("__qv"))
    cand = (
        F.broadcast(probes.join(qv, "query_id"))
        .join(index, "centroid_id")
        .withColumn(
            "score", {"cosine": V.cosine, "dot": V.dot}[metric](F.col("__qv"), F.col(vec_col))
        )
    )
    # Collapse duplicate ids BEFORE top-k: an at-least-once replayed append
    # (streaming.incremental_ivf_index) can leave the same vec_id in the
    # index more than once until the next ivf_compact; without this a
    # duplicate could occupy two top-k slots, displacing a real neighbor.
    # Replayed rows are identical (frozen centroids), so max(score) is
    # exact. One extra shuffle on the already-pruned candidate set only.
    best = (
        cand.select("query_id", corpus_id, "score")
        .groupBy("query_id", corpus_id)
        .agg(F.max("score").alias("score"))
    )
    return top_k_per_group(best, ["query_id"], "score", k, tie_break=corpus_id)


def ivf_write(index: DataFrame, path: str) -> None:
    """Persist the IVF index partitioned by centroid_id — the durable "bulk
    index build" artifact (BASELINE.json north star; the reference's analog
    is the ES index, elasticsearch_index.py:145-172).

    Directory-partitioning by centroid means a search that probes ``nprobe``
    buckets reads ONLY those directories: partition pruning happens at file
    listing, before any IO — at 100 TB with k=4096 centroids and nprobe=8,
    a query touches ~0.2% of the index bytes.
    """
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_read_pruned(spark, path: str, centroid_ids: list[int]) -> DataFrame:
    """Read ONLY the probed buckets of a persisted IVF index.

    The ``isin`` filter on the partition column becomes a PartitionFilter
    (pruned at listing time, no data read) — asserted in tests via the scan
    node's plan text.
    """
    df = spark.read.parquet(path)
    return df.filter(F.col("centroid_id").isin([int(c) for c in centroid_ids]))


def ivf_search_persisted(
    queries: DataFrame,
    spark,
    path: str,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """:func:`ivf_search` against a disk-persisted partitioned index.

    Probe selection runs on the (broadcast) centroid table; the union of all
    probed centroid ids prunes the index scan to those partitions, then the
    per-query semi-join restricts each query to its own probes.
    """
    probes = knn_exact(
        queries,
        centroids.select(F.col("centroid_id"), F.col("centroid").alias("embedding")),
        k=nprobe,
        corpus_id="centroid_id",
    ).select("query_id", "centroid_id")
    probe_ids = [r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()]
    index = ivf_read_pruned(spark, path, probe_ids)
    qv = queries.select("query_id", F.col(vec_col).alias("__qv"))
    cand = (
        F.broadcast(probes.join(qv, "query_id"))
        .join(index, "centroid_id")
        .withColumn("score", V.cosine(F.col("__qv"), F.col(vec_col)))
    )
    # Same replay-duplicate collapse as ivf_search — see the comment there.
    best = (
        cand.select("query_id", corpus_id, "score")
        .groupBy("query_id", corpus_id)
        .agg(F.max("score").alias("score"))
    )
    return top_k_per_group(best, ["query_id"], "score", k, tie_break=corpus_id)


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, centroid) — mean vector per label.

    Distributed array-mean: posexplode → groupBy(label, pos) avg → re-assemble
    ordered by position. Two shuffles on small keys; at 100 TB this is the
    cheap part of an IVF build (k-means iterations dominate; MLlib KMeans
    slots in here unchanged).
    """
    exploded = vectors.select(
        F.col(label_col).alias("centroid_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    means = exploded.groupBy("centroid_id", "pos").agg(F.avg("v").alias("m"))
    return (
        means.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "centroid_id",
            F.transform(F.col("pm"), lambda x: x["m"]).alias("centroid"),
        )
    )


# --- LSH via MLlib (random hyperplane / bucketed random projection) ---------


def lsh_model(corpus: DataFrame, vec_col: str = "embedding", bucket_length: float = 2.0,
              num_hash_tables: int = 3, seed: int = 42):
    """Fit BucketedRandomProjectionLSH over the corpus (bulk index build).

    Returns (model, corpus_with_vectors). Deterministic via fixed seed.
    Row contract: NULL / zero-length / off-dimension vectors are filtered
    out before the fit (MLlib dies on them); an empty or all-invalid
    corpus returns ``(None, empty_corpus)`` — :func:`lsh_search` maps a
    ``None`` model to the schema-correct empty result instead of an
    opaque MLlib fit failure on zero rows.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    dim = CV.probe_dim(corpus, vec_col)
    # valid_vec also excludes vectors with NULL ELEMENTS — array_to_vector
    # / the MLlib fit die on one, the opaque job-kill this filter exists
    # to prevent
    clean = (
        corpus.where(CV.valid_vec(vec_col, dim))
        if dim is not None
        else corpus.where(F.lit(False))
    )
    with_vec = clean.withColumn("__features", array_to_vector(F.col(vec_col)))
    if dim is None:
        return None, with_vec
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    return lsh.fit(with_vec), with_vec


def lsh_search(
    model,
    indexed_corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """approxNearestNeighbors for one query vector (euclidean distance).

    ``model=None`` (the :func:`lsh_model` empty-corpus contract) yields the
    same columns with zero rows."""
    from pyspark.ml.linalg import Vectors

    if model is None:
        return indexed_corpus.withColumn(
            "distance", F.lit(None).cast("double")
        ).where(F.lit(False))
    return model.approxNearestNeighbors(
        indexed_corpus, Vectors.dense(query_vec), k, distCol="distance"
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """(centroid_id, centroid) via MLlib KMeans — the production IVF
    coarse-quantizer ("MLlib for bulk index build"). Deterministic via fixed
    seed; drop-in wherever :func:`label_centroids` is used. At 100 TB train
    on a sample (`df.sample`) — KMeans quality needs only a representative
    subset, and assignment (:func:`ivf_build`) stays a single full scan.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    with_vec = vectors.select(array_to_vector(F.col(vec_col)).alias("__features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="__features").fit(with_vec)
    spark = vectors.sparkSession
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, centroid array<double>",
    )
    return centers


def knn_exact_int8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_decimals: int | None = None,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (the 4x-smaller storage tier).

    Symmetric per-vector scales cancel in cosine — cos(q/s_q, c/s_c) =
    cos(q, c) — so scoring is pure int64 arithmetic (exact, engine-portable:
    no float reduction-order drift) plus one double division at the end.
    At 100 TB the pair stage scans a quarter of the bytes of the float path;
    recall@10 vs exact float kNN is gated in tests (≥0.9). Zero vectors
    score 0 (guarded).
    """

    def prep(df, vec_col, id_expr, qn, nn):
        _, q = V.quantize_int8(F.col(vec_col))
        ql = q.cast("array<long>")
        return df.select(
            id_expr,
            ql.alias(qn),
            F.aggregate(ql, F.lit(0).cast("long"), lambda a, x: a + x * x).alias(nn),
        )

    qs = F.broadcast(prep(queries, query_vec, F.col("query_id"), "__qq", "__qn2"))
    cs = prep(corpus, corpus_vec, F.col(corpus_id), "__cq", "__cn2")
    idot = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__cq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    score = F.when(
        (F.col("__qn2") > 0) & (F.col("__cn2") > 0),
        idot.cast("double") / (F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__cn2"))),
    ).otherwise(F.lit(0.0))
    scored = qs.crossJoin(cs).withColumn("score", score)
    if round_decimals is not None:
        scored = scored.withColumn("score", F.round("score", round_decimals))
    return top_k_per_group(
        scored.select("query_id", corpus_id, "score"),
        ["query_id"],
        "score",
        k,
        tie_break=corpus_id,
    )


def _pack_sign_word(seg) -> "F.Column":
    """Pack the sign bits of (≤32) array elements into one int64: bit i set
    iff seg[i] > 0. Index-free formulation — a running power-of-two carried
    through the fold — because shiftleft() takes only a literal shift; every
    intermediate stays < 2^33, exact int64 in any engine."""
    st = F.aggregate(
        seg,
        F.struct(
            F.lit(0).cast("long").alias("s"), F.lit(1).cast("long").alias("p")
        ),
        lambda acc, x: F.struct(
            (
                acc["s"] + F.when(x > 0, acc["p"]).otherwise(F.lit(0).cast("long"))
            ).alias("s"),
            (acc["p"] * 2).alias("p"),
        ),
    )
    return st["s"]


def binary_signature(vec) -> tuple["F.Column", "F.Column"]:
    """Sign-bit binary quantization of a ≤64-dim vector as two int64 words
    (dims 0-31, 32-63). Two words rather than one keep every set bit below
    2^32 — a single-word 1<<63 overflows the signed range in portable SQL.
    DuckDB twin: ``list_sum(list_transform(range(1, 33), i ->
    CASE WHEN v[i] > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END))`` per word.
    """
    return _pack_sign_word(F.slice(vec, 1, 32)), _pack_sign_word(F.slice(vec, 33, 32))


def knn_binary(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Hamming top-k over sign-bit binary signatures — the 256x-compression
    ANN tier (faiss IndexBinaryFlat analog; Charikar 2002 sign-random-
    projection similarity, here on raw dims).

    Scoring is two XOR+popcounts per pair — exact integer arithmetic, zero
    float drift, engine-portable — and the packed corpus is 16 bytes/vector,
    so at 100 TB the pair scan touches 1/256 of the float bytes. In
    production the (id, word_lo, word_hi) table is written once as the
    binary index and candidates are re-scored by a float tier (same shape
    as IVF re-rank). Output (query_id, id, hamming), ascending hamming,
    id tie-break.
    """
    lo_q, hi_q = binary_signature(V.as_double_array(F.col(query_vec)))
    lo_c, hi_c = binary_signature(V.as_double_array(F.col(corpus_vec)))
    q = F.broadcast(
        queries.select("query_id", lo_q.alias("__qlo"), hi_q.alias("__qhi"))
    )
    c = corpus.select(F.col(corpus_id), lo_c.alias("__clo"), hi_c.alias("__chi"))
    ham = F.bit_count(
        F.col("__qlo").bitwiseXOR(F.col("__clo"))
    ) + F.bit_count(F.col("__qhi").bitwiseXOR(F.col("__chi")))
    scored = (
        q.crossJoin(c)
        .withColumn("hamming", ham.cast("long"))
        .withColumn("__neg", -F.col("hamming"))
    )
    out = top_k_per_group(
        scored.select("query_id", corpus_id, "hamming", "__neg"),
        ["query_id"],
        "__neg",
        k,
        tie_break=corpus_id,
    )
    return out.select("query_id", corpus_id, "hamming")


def knn_cascade(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    coarse_k: int = 50,
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Two-tier retrieval cascade: binary-Hamming coarse search over the
    16-byte sign signatures (:func:`knn_binary`, 1/256 of the float bytes)
    keeps ``coarse_k`` candidates per query; only those candidates are
    re-scored with exact float cosine and cut to ``k`` — the
    coarse-quantized-then-rerank pattern every production ANN stack uses
    (faiss binary + float refine; the reference's ``num_candidates``
    recall knob, /root/reference/backend/process/elasticsearch_index.py:275,
    maps to ``coarse_k``).

    Scale shape: the float corpus is touched ONLY by the candidate
    equi-join (queries × coarse_k rows, broadcast) — the full-width float
    scan of exact kNN never happens. Output (query_id, corpus_id, score,
    hamming); ties break (score DESC, id ASC). Recall@k vs the exact
    oracle is gated in tests/test_ann.py.
    """
    cand = knn_binary(
        queries, corpus, k=coarse_k, corpus_id=corpus_id,
        query_vec=query_vec, corpus_vec=corpus_vec,
    )
    qv = F.broadcast(
        queries.select(
            "query_id",
            V.as_double_array(F.col(query_vec)).alias("__qv"),
            V.norm(F.col(query_vec)).alias("__qn"),
        )
    )
    c = corpus.select(
        F.col(corpus_id),
        V.as_double_array(F.col(corpus_vec)).alias("__cv"),
        V.norm(F.col(corpus_vec)).alias("__cn"),
    )
    rescored = (
        F.broadcast(cand.select("query_id", corpus_id, "hamming"))
        .join(c, corpus_id)
        .join(qv, "query_id")
        .withColumn(
            "score",
            F.round(
                V.cosine_with_norms(
                    F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
                ),
                round_decimals,
            ),
        )
        .select("query_id", corpus_id, "score", "hamming")
    )
    return top_k_per_group(rescored, ["query_id"], "score", k, tie_break=corpus_id)


def ivf_append(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> None:
    """Incrementally add vectors to a persisted IVF index: assign ONLY the
    new batch to its nearest centroids (:func:`ivf_build` on the batch) and
    append into the matching ``centroid_id=`` partition directories — the
    existing index is never read or rewritten, the vector-side analog of
    the incremental BM25 postings log (streaming/pipeline.py).

    Centroids stay FROZEN across appends (the standard IVF contract —
    faiss add() after train(); re-clustering is a periodic offline rebuild,
    not an ingest-path operation). Appends are partition-parallel at any
    batch size and searches pick up new vectors on their next scan with no
    index downtime.

    Replay caveat: a crash-retried batch appends its rows twice and a
    duplicated vector would then occupy two top-k slots. Exactly-once
    ingest therefore wraps this in foreachBatch with a checkpoint (same as
    the BM25 log) and either dedupes ids at read
    (``index.dropDuplicates([corpus_id])``) or compacts periodically —
    the compaction rewrite is also what bounds small-file growth.
    """
    assigned = ivf_build(new_vectors, centroids, vec_col=vec_col, corpus_id=corpus_id)
    assigned.write.mode("append").partitionBy("centroid_id").parquet(path)


def ivf_compact(spark, path: str, corpus_id: str = "vec_id") -> dict[str, int]:
    """Maintenance rewrite of a persisted IVF index (the vector-side analog
    of BM25's :func:`~auto_vectordb_spark.operators.bm25.compact_index`):
    squash crash-replayed duplicate appends down to one row per vector and
    rewrite each ``centroid_id=`` partition's accumulated small files.

    Under the frozen-centroid append contract (:func:`ivf_append`) a
    replayed batch re-appends IDENTICAL rows — same embedding, same
    centroid assignment — so keep-any per ``corpus_id`` is exact, no epoch
    needed. (Re-EMBEDDING a live id is a corpus rebuild, not an append —
    out of scope here, as for faiss add().)

    Plan: one (corpus_id) shuffle for the dedup; the rewrite preserves the
    ``partitionBy("centroid_id")`` layout so partition-pruned search
    (:func:`ivf_search_persisted`) is untouched. Run with ingest paused —
    the staging write + directory swap is atomic per rename but appends
    landing mid-compaction would be dropped.

    Returns {rows_before, rows_after} for maintenance logging.
    """
    import shutil
    from pathlib import Path

    idx = spark.read.parquet(path)
    before = idx.count()
    staging = str(Path(path).parent / f"_{Path(path).name}_compact")
    (
        idx.dropDuplicates([corpus_id])
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(staging)
    )
    # Aside-rename ordering: live -> _old, staging -> live, delete _old.
    # Each rename is atomic, but between the two the live path is briefly
    # absent — concurrent readers in that window see a missing directory,
    # and a crash there requires manually renaming _old back. Acceptable
    # for the intended paused-ingest maintenance window; continuous readers
    # need a versioned-directory scheme instead.
    old = Path(path).parent / f"_{Path(path).name}_old"
    if old.exists():
        shutil.rmtree(old)
    Path(path).rename(old)
    Path(staging).rename(path)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(path)
    after = spark.read.parquet(path).count()
    return {"rows_before": before, "rows_after": after}


def maxp_doc_scores(
    queries: DataFrame,
    corpus: DataFrame,
    group_expr,
    k: int = 10,
    corpus_id: str = "vec_id",
    round_decimals: int = 6,
) -> DataFrame:
    """(query_id, group_id, maxp, sum_q, n_chunks, best_chunk) — passage-to-
    document retrieval aggregation: chunk-level similarities roll up to a
    document score via MaxP (Dai & Callan 2019's BERT-MaxP aggregation —
    a doc is as relevant as its best passage), with the exact
    1e6-quantized SumP basis (micro units) riding along for interpolated
    scoring.

    ``group_expr`` maps a corpus row to its document (e.g.
    ``F.col("vec_id") / 4`` for fixed-size chunking). Ranking is on
    (rounded maxp DESC, group_id ASC) — deterministic cross-engine; sum_q
    is the exact int64 sum of 1e6-quantized chunk scores (parity rule 1),
    never a reconstructed rounded double.

    Scale shape: queries broadcast, corpus scanned in place (score_pairs),
    then ONE (query, group) shuffle for both the window (best chunk) and
    the aggregate — the two share the same key so AQE reuses the exchange.
    """
    scored = score_pairs(queries, corpus).select(
        "query_id",
        F.col(corpus_id).alias("chunk_id"),
        group_expr.cast("long").alias("group_id"),
        F.round("score", round_decimals).alias("score"),
    )
    w = Window.partitionBy("query_id", "group_id").orderBy(
        F.col("score").desc(), F.col("chunk_id").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", "group_id", F.col("score").alias("maxp"),
                F.col("chunk_id").alias("best_chunk"))
    )
    agg = scored.groupBy("query_id", "group_id").agg(
        F.sum(F.round(F.col("score") * 1_000_000, 0).try_cast("long")).alias("sum_q"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    joined = best.join(agg, ["query_id", "group_id"]).select(
        "query_id", "group_id", "maxp", "sum_q", "n_chunks", "best_chunk"
    )
    return top_k_per_group(joined, ["query_id"], "maxp", k, tie_break="group_id")
