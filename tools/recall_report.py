"""Generate RECALL.md: measured recall@k for every approximate kNN tier vs
the exact oracle, across the tiers' latency knobs.

This is the evidence file for the "approximate tiers with measured recall"
claim: tests/test_ann.py gates single points (recall >= 0.9 etc.); this
sweeps the knob so the recall/latency TRADEOFF is documented, the way an ES
operator would read num_candidates guidance. Run:

    python tools/recall_report.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from auto_vectordb_spark.operators import knn as KNN  # noqa: E402
from auto_vectordb_spark.plans.parity import load_views  # noqa: E402
from auto_vectordb_spark.session import get_spark  # noqa: E402

K = 10
N_QUERIES = 20


def topk_sets(df, id_col="vec_id"):
    out: dict[int, set] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r[id_col])
    return out


def recall(approx: dict[int, set], exact: dict[int, set]) -> float:
    num = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
    den = sum(len(exact[q]) for q in exact)
    return num / den if den else 1.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="recall_report", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_views(spark, sf_dir)["embeddings"].cache()
    n_corpus = emb.count()
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .cache()
    )
    queries.count()

    t0 = time.time()
    exact = topk_sets(KNN.knn_exact(queries, emb, k=K, round_decimals=6))
    t_exact = time.time() - t0

    rows = [
        "# RECALL — measured recall@10 per approximate tier vs the exact oracle",
        "",
        f"Corpus: `{sf_dir}` ({n_corpus} vectors), {N_QUERIES} queries, k={K}.",
        f"Exact (expression kernel) baseline: {t_exact:.2f}s — recall 1.0 by",
        "definition. Times are single-run local wall-clock at this tiny SF:",
        "read them as RELATIVE cost of each knob step, not throughput claims",
        "(the 100 TB story per tier is in SCALE.md).",
        "",
        "| tier | knob | recall@10 | wall s |",
        "|---|---|---|---|",
    ]

    # IVF: nprobe sweep
    centroids = KNN.label_centroids(emb)
    index = KNN.ivf_build(emb, centroids).cache()
    index.count()
    for nprobe in (1, 2, 4, 6, 8):
        t0 = time.time()
        got = topk_sets(KNN.ivf_search(queries, index, centroids, k=K, nprobe=nprobe))
        rows.append(
            f"| IVF | nprobe={nprobe} | {recall(got, exact):.3f} | {time.time() - t0:.2f} |"
        )

    # int8 symmetric quantization
    t0 = time.time()
    got = topk_sets(KNN.knn_exact_int8(queries, emb, k=K))
    rows.append(f"| int8 | — | {recall(got, exact):.3f} | {time.time() - t0:.2f} |")

    # binary (sign) Hamming
    t0 = time.time()
    got = topk_sets(KNN.knn_binary(queries, emb, k=K))
    rows.append(f"| binary sign | — | {recall(got, exact):.3f} | {time.time() - t0:.2f} |")

    # PQ full-scan ADC and IVF-PQ (billion-scale compressed tiers).
    # PQ/ADC approximates L2, not cosine — recall for these rows is vs the
    # exact L2 top-k, the metric family the tier actually targets.
    from auto_vectordb_spark.operators import pq as PQ

    import numpy as np

    q_rows = queries.collect()
    c_rows = emb.select("vec_id", "embedding").collect()
    cids = np.array([r["vec_id"] for r in c_rows])
    C = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in c_rows])
    exact_l2: dict[int, set] = {}
    for r in q_rows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        d = ((C - qv) ** 2).sum(axis=1)
        exact_l2[r["query_id"]] = set(cids[np.argsort(d)[:K]].tolist())

    books = PQ.pq_codebooks_seed(emb, m=4, ksub=16)
    codes = PQ.pq_encode(emb, books).cache()
    codes.count()
    t0 = time.time()
    got = topk_sets(PQ.pq_adc_topk(queries, codes, books, k=K))
    rows.append(f"| PQ ADC (m=4, ksub=16), vs exact-L2 | full scan | {recall(got, exact_l2):.3f} | {time.time() - t0:.2f} |")
    centroids2 = KNN.label_centroids(emb)
    cells = KNN.ivf_build(emb, centroids2).select("vec_id", "centroid_id")
    codes_indexed = codes.join(cells, "vec_id").cache()
    codes_indexed.count()
    for nprobe in (3, 6, 8):
        t0 = time.time()
        got = topk_sets(
            PQ.ivf_pq_topk(queries, codes_indexed, centroids2, books, k=K, nprobe=nprobe)
        )
        rows.append(
            f"| IVF-PQ (IVFADC), vs exact-L2 | nprobe={nprobe} | {recall(got, exact_l2):.3f} | {time.time() - t0:.2f} |"
        )

    # TRAINED codebooks at production granularity (m=16, ksub=256): the
    # round-4 verdict's ask — the real recall curve for a usable PQ tier
    # on this fixture.
    t0 = time.time()
    books_t = PQ.pq_codebooks_kmeans(emb, m=16, ksub=256)
    t_train = time.time() - t0
    codes_t = PQ.pq_encode(emb, books_t).cache()
    codes_t.count()
    t0 = time.time()
    got = topk_sets(PQ.pq_adc_topk(queries, codes_t, books_t, k=K))
    rows.append(
        f"| PQ ADC trained (m=16, ksub=256, kmeans {t_train:.0f}s), vs exact-L2 "
        f"| full scan | {recall(got, exact_l2):.3f} | {time.time() - t0:.2f} |"
    )
    codes_t_indexed = codes_t.join(cells, "vec_id").cache()
    codes_t_indexed.count()
    for nprobe in (3, 6, 8):
        t0 = time.time()
        got = topk_sets(
            PQ.ivf_pq_topk(
                queries, codes_t_indexed, centroids2, books_t, k=K, nprobe=nprobe
            )
        )
        rows.append(
            f"| IVF-PQ trained (m=16, ksub=256), vs exact-L2 | nprobe={nprobe} "
            f"| {recall(got, exact_l2):.3f} | {time.time() - t0:.2f} |"
        )

    # cascade: coarse_k sweep
    for coarse_k in (20, 50, 100):
        t0 = time.time()
        got = topk_sets(KNN.knn_cascade(queries, emb, k=K, coarse_k=coarse_k))
        rows.append(
            f"| cascade (binary→exact) | coarse_k={coarse_k} | "
            f"{recall(got, exact):.3f} | {time.time() - t0:.2f} |"
        )

    rows += [
        "",
        "Caveat on PQ absolute numbers: seed-codebook PQ (m=4, ksub=16 on",
        "isotropic 64-d data) is deliberately coarse — 16 centroids per",
        "16-d subspace can't separate isotropic vectors, and the tests gate",
        "a floor (>=0.2, 10x random) plus the property that MLlib-trained",
        "codebooks reduce quantization MSE (tests/test_cluster.py). The",
        "0.84 figure in pq.py's docstring is the 5 SEED-SET queries (their",
        "quantization is exact by construction) — these 20-query curves",
        "are the honest out-of-seed numbers. The TRAINED rows (m=16,",
        "ksub=256 MLlib-KMeans codebooks via the broadcast data-driven",
        "encode/ADC path) are the PRODUCTION DEFAULT (registry entries",
        "knn_pq_adc_trained / knn_ivf_pq_trained; pq_codebooks_seed's",
        "docstring warns against shipping the baseline knobs): recall",
        "floors >=0.8 full-scan and >=0.75 at nprobe=8 are gated in",
        "tests/test_ann.py::test_trained_pq_recall_gate. (IVF-PQ's ceiling",
        "is the trained ADC's full-scan figure; nprobe=10 of the 10",
        "centroids here IS the full scan, so the honest IVF gate sits at",
        "nprobe=8.)",
        "",
        "Caveat on IVF absolute numbers: these synthetic embeddings are",
        "nearly isotropic (max pairwise cosine ~0.48, weak label clusters),",
        "so neighbors spread across buckets and high recall needs a high",
        "probe fraction — on genuinely clustered data (IVF's regime) low",
        "nprobe suffices (see tests/test_ann.py test_ivf_recall_gate).",
        "",
        "Reading guide: IVF recall climbs with `nprobe` (the ES",
        "`num_candidates` analog) because more centroid buckets are scanned;",
        "the cascade's `coarse_k` bounds how many Hamming candidates the",
        "exact reranker sees, so recall@10 -> 1.0 once coarse_k covers the",
        "true top-10's Hamming neighborhood. int8/binary are single-pass",
        "quantized tiers: fixed recall, fixed (lower) byte cost. Gates live",
        "in tests/test_ann.py; this file records the measured curve.",
        "",
    ]
    out = "\n".join(rows)
    with open("/root/repo/RECALL.md", "w") as f:
        f.write(out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
